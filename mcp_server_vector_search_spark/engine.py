"""User-facing search facade — the reference's tool surface, Spark-native.

Replicates the end-to-end contract of the reference's single MCP tool
``vector_search_neo4j`` (reference server.py:67-106): a text prompt is
embedded, validated against the index dimension, scored against the
corpus with the normalized cosine ``(1+cos)/2``, and the top-k rows are
returned as a JSON array of ``{name, description, score}`` objects
ordered by descending score.  A user of the reference switches by
constructing ``SparkVectorSearch`` instead of an MCP client; the
request/response MCP transport itself is out of engine scope
(SURVEY.md §3.3 — the reference's own CLI entry point is broken, and
the driver contract here is plain Python).

The corpus is materialized ONCE, at construction: the reference stores
each embedding as a node property behind its vector index
(README.md:72-79) and per request embeds only the prompt and runs one
index query (server.py:85-91).  ``SparkVectorSearch.__init__`` adds
each row's embedding norm (``l2_norm``, the same expression the score
would compute per row, so the same bits), persists the corpus
(``MEMORY_AND_DISK``), runs one action and registers it as a temp view
under a name unique to the facade; so the embedding UDF, any shuffle in
the corpus plan and every request-independent norm run once.

A request is ONE SQL statement over that view: one parse and analysis
on the driver, one scan of the cached rows into
``TakeOrderedAndProject`` on the executors.  The prompt vector enters
as one folded array literal (``neo4j_score_sql``), and its norm only
inside an array literal, so after warm-up a request compiles no new
code (see ``functions/vector.py``).  ``close()`` drops the view and
releases the cached blocks.

Parity decisions, each cited to the reference:

- **Dimension validation is a hard error** (``ValueError``), applied to
  the query embedding exactly as server.py:55-56 and re-checked like
  server.py:80-84.
- **Score semantics**: Neo4j cosine-index normalization ``(1+cos)/2``
  in [0, 1], descending (server.py:87-90; README.md:77).
- **k defaults to 10** — hardcoded in the reference's Cypher call
  (server.py:87); here it is a parameter with the same default.
- **Serialization**: rows → JSON array string with non-JSON types
  stringified, mirroring ``json.dumps([r.data() ...], default=str)``
  (server.py:64) via ``F.to_json(F.struct(...))`` executed distributed;
  the driver only concatenates.
- **Empty results return the empty JSON array** ``[]``: the reference's
  "No results found." branch (server.py:98-100) is unreachable dead
  code — ``results`` is a JSON *string*, truthy even when ``"[]"`` —
  so observable reference behavior is "always the serialized rows",
  and that is what we replicate (SURVEY.md §2.1 O7).
"""

from __future__ import annotations

import json
import uuid
from typing import Callable, Optional

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions.embedder import DEFAULT_DIM, hash_embedder
from .functions.vector import l2_norm, neo4j_score_sql
# topk stays importable from here: perfbench's serve tracer wraps engine.topk
from .operators.topk import SCORE_DECIMALS, topk  # noqa: F401

DEFAULT_K = 10  # reference server.py:87
NORM_COL = "__embedding_norm"


class SparkVectorSearch:
    """Top-k semantic search over a corpus DataFrame.

    ``corpus`` must carry ``name``/``description`` string columns and an
    ``embedding`` array<float> column of dimension ``dim`` (the
    reference's node schema, README.md:72-79).  ``embedder`` maps a
    text column to an embedding column; the default is the
    deterministic hash embedder (functions/embedder.py) — swap in
    ``model_embedder(...)`` for a real model.

    Construction adds the ``NORM_COL`` norm column, persists the
    corpus, materializes it with one action and registers it as a temp
    view; call ``close()`` to drop the view and release the cached
    blocks.  Persisting is keyed by plan, so closing also uncaches any
    other DataFrame with the same plan.
    """

    def __init__(
        self,
        corpus: DataFrame,
        dim: int = DEFAULT_DIM,
        embedder: Optional[Callable[[Column], Column]] = None,
    ) -> None:
        self.dim = dim
        # Default embedder: prompts embed DRIVER-side (embed_text_driver,
        # the certified mirror of the UDF math) — the reference embeds
        # its prompt client-side in the server process (server.py:78's
        # OpenAI call) and ships the VECTOR as a query parameter, and
        # skipping the 1-row Spark job halves warm-search latency.  A
        # CUSTOM embedder has no driver mirror, so prompts go through
        # its real column expression in a 1-row job instead.
        self._driver_prompt_embed = embedder is None
        self.embedder = embedder or hash_embedder(dim)
        missing = {"name", "description", "embedding"} - set(corpus.columns)
        if missing:
            raise ValueError(f"corpus is missing columns {sorted(missing)}")
        self.corpus = corpus.withColumn(NORM_COL, l2_norm("embedding")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self.corpus.count()
        self._view = f"__vector_search_corpus_{uuid.uuid4().hex}"
        self.corpus.createOrReplaceTempView(self._view)

    def close(self) -> None:
        """Drop the corpus view and release the cached corpus."""
        self.corpus.sparkSession.catalog.dropTempView(self._view)
        self.corpus.unpersist()

    def _embed_prompt(self, prompt: str) -> list[float]:
        if self._driver_prompt_embed:
            from .functions.embedder import embed_text_driver

            vec = [float(v) for v in embed_text_driver(prompt, self.dim)]
        else:
            spark = self.corpus.sparkSession
            row = (
                spark.createDataFrame([(prompt,)], ["text"])
                .select(self.embedder(F.col("text")).alias("v"))
                .first()
            )
            vec = list(row["v"]) if row["v"] is not None else []
        # hard-fail dim check, as server.py:55-56 and the re-check at
        # server.py:80-84
        if len(vec) != self.dim:
            raise ValueError(
                f"embedding dimension mismatch: expected {self.dim}, got {len(vec)}"
            )
        return vec

    def _topk_sql(self, prompt: str, k: int) -> str:
        """The one request statement: (name, description, score) scored
        against the embedded prompt, ordered and limited (Catalyst fuses
        ORDER BY + LIMIT into ``TakeOrderedAndProject``)."""
        score = neo4j_score_sql("embedding", self._embed_prompt(prompt), norm=NORM_COL)
        return (
            f"SELECT name, description, round({score}, {SCORE_DECIMALS}) AS score"
            f" FROM {self._view} ORDER BY score DESC, name ASC LIMIT {k:d}"
        )

    def search_df(self, prompt: str, k: int = DEFAULT_K) -> DataFrame:
        """The lazy form: scored, ordered, limited DataFrame of
        (name, description, score)."""
        return self.corpus.sparkSession.sql(self._topk_sql(prompt, k))

    def search(self, prompt: str, k: int = DEFAULT_K) -> str:
        """The reference tool's contract: JSON array string of top-k
        rows, score-descending (server.py:64,102)."""
        rows = self.corpus.sparkSession.sql(
            "SELECT to_json(struct(name, description, score)) AS j"
            f" FROM ({self._topk_sql(prompt, k)})"
        ).collect()
        return "[" + ", ".join(r["j"] for r in rows) + "]"


def corpus_from_documents(
    documents: DataFrame,
    embedder: Optional[Callable[[Column], Column]] = None,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Build a search corpus from the testdata ``documents`` table:
    doc_id → name, text → description, embeddings computed by the
    (pluggable) embedder — the batch analog of the reference ingesting
    nodes with pre-computed ``embedding`` properties (README.md:124)."""
    embed = embedder or hash_embedder(dim)
    sc = documents.sparkSession.sparkContext
    return documents.repartition(sc.defaultParallelism).select(
        F.col("doc_id").cast("string").alias("name"),
        F.col("text").alias("description"),
        embed(F.col("text")).alias("embedding"),
    )


def rows_as_json(df: DataFrame) -> str:
    """Whole-result JSON serialization (reference server.py:64
    semantics: one JSON array, non-JSON types stringified)."""
    return "[" + ", ".join(
        r["j"] for r in df.select(F.to_json(F.struct("*")).alias("j")).collect()
    ) + "]"


def parse_results(payload: str) -> list[dict]:
    """Convenience for consumers/tests: the inverse of ``search``."""
    return json.loads(payload)
