"""Text-analysis operators over the ``documents`` table.

The training-data-pipeline surface implied by a vector-search engine at
100 TB (BASELINE.json north star): token statistics, quality filtering,
language ID, fingerprinting, vocabulary analytics.  All expressions are
JVM-side (functions/text.py) — a full-corpus pass stays in whole-stage
codegen, and the only shuffle in this module is the word-frequency
aggregate (31-key hash agg, map-side combined).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import MERSENNE31, ROLLING_BASE, duckdb_hash60_mod
from ..registry import register
from ..sources.tables import load_table

R = 6  # shared rounding for double-typed derived metrics


@register(
    "text_token_stats",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
       CAST(LENGTH(text) AS INTEGER) AS n_chars
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        F.size(F.array_distinct(T.tokens(t))).alias("n_distinct_tokens"),
        T.bpe_token_count(t).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '),
             t -> list_contains(['the', 'a'], t)))::DOUBLE
           / len(string_split(text, ' ')) AS stop_ratio,
         len(list_distinct(string_split(text, ' ')))::DOUBLE
           / len(string_split(text, ' ')) AS distinct_ratio
  FROM documents
)
SELECT doc_id,
       ROUND(stop_ratio, {R}) AS stopword_ratio,
       ROUND(distinct_ratio, {R}) AS distinct_ratio,
       ROUND(0.4 * least(1.0, n_tok / 50.0)
             + 0.3 * (1.0 - stop_ratio)
             + 0.3 * distinct_ratio, {R}) AS quality
FROM m
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(T.stopword_ratio(t), R).alias("stopword_ratio"),
        F.round(T.distinct_token_ratio(t), R).alias("distinct_ratio"),
        F.round(T.quality_score(t), R).alias("quality"),
    )


@register(
    "text_lang_id",
    oracle=f"""
SELECT doc_id, lang AS lang_actual,
       {T.duckdb_lang_id('text')} AS lang_pred
FROM documents
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (deterministic heuristic; the real-model
    path would be a pandas_udf — same shape as the embedder surface)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        T.lang_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "text_fingerprints",
    oracle=f"""
SELECT doc_id,
       md5(text) AS md5_fp,
       list_reduce(
         list_transform(string_split(text, ' '),
                        t -> {duckdb_hash60_mod('t')}),
         (acc, h) -> (acc * {ROLLING_BASE} + h) % {MERSENNE31}) AS rolling_fp,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS bag_fp
FROM documents
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fingerprints per document: exact (md5), order-sensitive
    (polynomial rolling hash), bag-of-words (sorted-vocab md5)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.md5(t).alias("md5_fp"),
        T.rolling_fingerprint(t).alias("rolling_fp"),
        F.md5(T.bag_signature(t)).alias("bag_fp"),
    )


TOP_N_WORDS = 20


@register(
    "word_freq_topn",
    oracle=f"""
SELECT tok, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT {TOP_N_WORDS}
""",
)
def word_freq_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary histogram: explode → hash agg → top-N.
    Map-side combine reduces each partition to its local vocabulary
    before the shuffle, so the exchange is O(vocab), not O(tokens)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(TOP_N_WORDS)
    )


TFIDF_TOP = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         ROUND(tf.tf * ln(n.n::DOUBLE / df.df), {R}) AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, tok) AS rnk
  FROM scored
)
SELECT doc_id, tok, tfidf, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {TFIDF_TOP}
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF, top terms per document.

    Spelled as DataFrame ops (explode -> hash agg -> df count window ->
    window top-k) so it is oracle-checkable; the one-pass sketch
    alternative at extreme scale is MLlib HashingTF+IDF (hashed term
    space, no exact df).  Only (doc_id, token, counts) triples ever
    shuffle — documents themselves never move after the explode.
    The idf variant is the plain ln(N/df) (no smoothing): every token
    present in the corpus has df >= 1, so the log is always defined.

    r17 (guide §2.4): ``tf`` holds exactly one row per (doc_id, tok),
    so the document frequency of a token IS the row count of its tok
    partition — a count window over ``tf`` replaces what used to be a
    second full explode pass, a COUNT DISTINCT aggregate, and the
    tok-keyed equi-join carrying it back.
    """
    from ..sources.tables import spread

    d = spread(load_table(spark, sf_dir, "documents"))
    n_docs = d.count()  # scalar table stat; the oracle recomputes the same
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    from pyspark.sql import Window as W

    # Skew: a stopword-like token's whole window partition lands on one
    # task; the replaced groupBy + join form had AQE skew-join splitting.
    # Acceptable at bench scale.
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("tok"))
    ).select(
        "doc_id",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), R
        ).alias("tfidf"),
    )

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TFIDF_TOP)
        .select("doc_id", "tok", "tfidf", "rnk")
    )


# RAG-style chunking: fixed token windows with overlap.  64-token chunks
# at a 48-token stride (25% overlap) is a common retrieval-chunking
# default; both are parameters, not constants.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


@register(
    "chunk_documents_overlap",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens,
         len(string_split(text, ' ')) AS n
  FROM documents
),
starts AS (
  SELECT doc_id, tokens, n, unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id,
       CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       array_to_string(tokens[s + 1 : s + {CHUNK_TOKENS}], ' ') AS chunk_text,
       CAST(LEAST({CHUNK_TOKENS}, n - s) AS INTEGER) AS n_tokens
FROM starts
""",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks with document provenance — the
    splitting stage every RAG/embedding ingest runs before embedding
    (the reference's corpus arrives pre-chunked into ``description``
    nodes; this is the operator that produces such a corpus at 100 TB).

    Row-local: tokenize once, explode the stride-spaced start offsets,
    slice each window from the SAME token array — no shuffle at all,
    the whole operator runs in the scan stage.  Chunk count per doc is
    ceil(n/stride), so output size is input·(chunk/stride) and the
    explode is bounded per row.
    """
    return chunk_with_overlap(load_table(spark, sf_dir, "documents"))


def chunk_with_overlap(docs: DataFrame) -> DataFrame:
    """The chunking transform itself, over ANY (doc_id, text) frame —
    batch or streaming (it is a stateless row-local projection, so the
    identical expressions run under a streaming plan unchanged; see
    streaming/ingest.chunk_document_stream)."""
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("tokens"),
        F.size(F.split("text", " ")).alias("n"),
    )
    starts = toks.select(
        "doc_id",
        "tokens",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.array_join(
            F.slice("tokens", F.col("s") + 1, CHUNK_TOKENS), " "
        ).alias("chunk_text"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("s"))
        .cast("int")
        .alias("n_tokens"),
    )


@register(
    "text_repetition_scores",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tokens,
         len(string_split(text, ' ')) AS n
  FROM documents
),
g AS (
  SELECT doc_id, tokens, n,
         list_transform(range(1, n - 1),
                        i -> array_to_string(tokens[i : i + 2], ' ')) AS grams
  FROM t
)
SELECT doc_id,
       CASE WHEN len(grams) > 0
            THEN ROUND(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), {R})
            ELSE 0.0 END AS rep_3gram,
       CASE WHEN n > 0
            THEN ROUND(list_max(list_transform(list_distinct(tokens),
                     tt -> len(list_filter(tokens, x -> x = tt))))
                 / CAST(n AS DOUBLE), {R})
            ELSE 0.0 END AS top_token_ratio
FROM g
""",
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals — the Gopher/C4-style quality
    rules the corpus gates run alongside length/stopword checks
    (covered by ``text_quality_scores``): the duplicate-3-gram ratio
    (1 − distinct/total) and the most-frequent-token dominance ratio.

    Entirely row-local array algebra (transform/slice/array_distinct/
    filter over one tokenize) — like chunking, the operator runs in the
    scan stage with zero exchanges; per-row cost is O(distinct·n) on
    bounded documents.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select("doc_id", toks.alias("tokens"), F.size(toks).alias("n"))
    # Guarded: Spark's sequence(1, n-2) DESCENDS when n < 3 (DuckDB's
    # range() is empty there), so short docs get an explicit empty list.
    grams = F.when(
        F.col("n") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 2),
            lambda i: F.array_join(F.slice("tokens", i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.withColumn("grams", grams)
    rep = F.when(
        F.size("grams") > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("grams"))
            / F.size("grams").cast("double"),
            R,
        ),
    ).otherwise(F.lit(0.0))
    top = F.when(
        F.col("n") > 0,
        F.round(
            F.array_max(
                F.transform(
                    F.array_distinct("tokens"),
                    lambda tt: F.size(F.filter("tokens", lambda x: x == tt)),
                )
            )
            / F.col("n").cast("double"),
            R,
        ),
    ).otherwise(F.lit(0.0))
    return g.select(
        "doc_id", rep.alias("rep_3gram"), top.alias("top_token_ratio")
    )


# Conjunctive query terms: the engine's canonical prompt (ann.PROMPT_TEXT),
# imported lazily to avoid a module cycle at import time.
def _prompt_terms() -> tuple[str, ...]:
    from .ann import PROMPT_TEXT

    return tuple(dict.fromkeys(PROMPT_TEXT.split(" ")))


def _inverted_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _prompt_terms())
    n_terms = len(_prompt_terms())
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
postings AS (
  SELECT tok, list_sort(list(doc_id)) AS plist, COUNT(*) AS df
  FROM toks GROUP BY tok
),
hits AS (
  SELECT unnest(plist) AS doc_id, tok FROM postings WHERE tok IN ({terms})
)
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms
FROM hits GROUP BY doc_id HAVING COUNT(*) = {n_terms}
"""


@register("text_inverted_conjunctive", oracle=_inverted_oracle)
def text_inverted_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build + conjunctive (AND) term query — the text
    counterpart of the IVF principle that the LAYOUT is the index: the
    posting table (token → sorted doc-id list + document frequency) is
    the materialization a 100 TB lexical store writes once, bucketed by
    token, and every boolean/BM25 query afterwards probes O(query
    terms) posting rows instead of scanning the corpus.

    Build: one distinct-token explode → per-token hash agg (map-side
    combined; the shuffle is O(vocab), not O(tokens) — same argument as
    ``word_freq_topn``).  Query: the prompt's terms select their
    posting rows, re-explode, and an exact-count HAVING keeps docs
    containing ALL terms.  The registered query runs build+query in one
    plan; with the postings parquet materialized, only the query stages
    remain.
    """
    d = load_table(spark, sf_dir, "documents")
    terms = _prompt_terms()
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    postings = toks.groupBy("tok").agg(
        F.sort_array(F.collect_list("doc_id")).alias("plist"),
        F.count(F.lit(1)).alias("df"),
    )
    hits = postings.where(F.col("tok").isin(*terms)).select(
        F.explode("plist").alias("doc_id")
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_terms"))
        .where(F.col("n_terms") == len(terms))
    )


# Phrase query: positional postings probed slot-by-slot.
PHRASE_LEN = 3


def _phrase_terms() -> tuple[str, ...]:
    """The canonical test phrase: the first PHRASE_LEN tokens of doc 0
    at the oracle scale — a constant of the registered query (the text
    analog of the ANN family's trained-constant device), guaranteeing
    at least one corpus match."""
    import pyarrow.parquet as pq

    from ..functions.train import ORACLE_SF_DIR

    t = pq.read_table(f"{ORACLE_SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    ids = t.column("doc_id").to_pylist()
    texts = t.column("text").to_pylist()
    return tuple(texts[ids.index(0)].split(" ")[:PHRASE_LEN])


def _phrase_oracle() -> str:
    """Deliberately a DIFFERENT algorithm than the engine: a brute
    sliding-window scan over every document (the O(corpus · phrase)
    shape the positional index exists to avoid).  Same answer from an
    independent formulation is stronger evidence than a mirrored one."""
    terms = _phrase_terms()
    conds = " AND ".join(
        f"tokens[s + {i}] = '{t}'" for i, t in enumerate(terms)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens,
         len(string_split(text, ' ')) AS n
  FROM documents
),
starts AS (
  SELECT doc_id, tokens, unnest(range(1, n - {PHRASE_LEN} + 2)) AS s
  FROM toks WHERE n >= {PHRASE_LEN}
)
SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_occurrences
FROM starts WHERE {conds}
GROUP BY doc_id
"""


@register("text_phrase_query", oracle=_phrase_oracle)
def text_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL inverted index + exact phrase query — the lexical
    retrieval step conjunctive AND (``text_inverted_conjunctive``)
    cannot express: the phrase must occur with its terms ADJACENT.

    Build: one position-preserving explode → per-token posting rows of
    sorted (doc_id, position) structs — the same O(vocab)-shuffle
    layout-as-index argument as the plain posting lists, one struct
    per occurrence instead of one id per document.  Query: each phrase
    slot i probes its term's posting row and normalizes occurrences to
    ``anchor = position − i``; a (doc, anchor) group containing every
    slot is a phrase match (the classic positional-intersection
    algorithm — work is O(Σ posting sizes of the phrase terms), never
    a corpus scan).  The oracle verifies with an independent
    brute-force sliding-window scan.
    """
    d = load_table(spark, sf_dir, "documents")
    try:
        terms = _phrase_terms()
    except FileNotFoundError:  # oracle corpus absent: derive from THIS sf_dir
        row = d.where(F.col("doc_id") == 0).select("text").first()
        terms = tuple(row["text"].split(" ")[:PHRASE_LEN]) if row else ()
    if len(terms) < PHRASE_LEN:
        # no full-length phrase derivable (doc 0 missing or too short):
        # the well-typed empty result, not a crash on an empty leg list
        return spark.createDataFrame([], "doc_id long, n_occurrences int")
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
    )
    # each slot probes its term's postings directly — the term filter IS
    # the posting-list selection (a groupBy+collect_list+explode round
    # trip would re-shuffle per slot only to rebuild these same rows)
    legs = None
    for i, t in enumerate(terms):
        leg = pos.where(F.col("tok") == t).select(
            "doc_id",
            (F.col("p") - F.lit(i)).alias("anchor"),
            F.lit(i).alias("slot"),
        )
        legs = leg if legs is None else legs.unionAll(leg)
    matches = (
        legs.groupBy("doc_id", "anchor")
        .agg(F.countDistinct("slot").alias("k"))
        .where(F.col("k") == PHRASE_LEN)
    )
    return matches.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_occurrences")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval: the lexical counterpart of the flagship vector
# top-k, over the same prompt
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_K = 10


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _prompt_terms())
    return f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
stats AS (
  SELECT COUNT(*) AS n, SUM(len(string_split(text, ' '))) AS total
  FROM documents
),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf FROM toks
  WHERE tok IN ({terms}) GROUP BY doc_id, dl, tok
),
df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
  WHERE tok IN ({terms}) GROUP BY tok
),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(ROUND(
           ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * tf.dl / (CAST(stats.total AS DOUBLE) / stats.n))),
           {R}) AS DECIMAL(18,{R}))) AS DOUBLE) AS bm25
  FROM tf JOIN df USING (tok) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_K}
"""


@register("text_bm25_topk", oracle=_bm25_oracle)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones; the Lucene
    ``k1=1.2, b=0.75`` defaults and its ``ln(1 + (N-df+0.5)/(df+0.5))``
    idf) for the engine's canonical prompt — the lexical side of the
    hybrid RRF fusion (operators/hybrid.py scores dense-only; this is
    the ranking function a 100 TB lexical store would fuse in).

    Plan: the token explode filters to the QUERY's terms BEFORE any
    aggregation, so the per-(doc, term) tf agg and the per-term df agg
    shuffle O(matching postings), never O(corpus tokens); df (≤ |query|
    rows) broadcasts into the scoring join.  Corpus stats (N, Σ|d|) are
    one scalar aggregate folded as literals — exact integers, so avgdl
    is the same double on both engines.  Per-term contributions are
    rounded HALF_UP at {R} and summed as DECIMAL so the doc score is
    addition-order-independent (double summation order differs between
    Spark's hash agg and DuckDB's)."""
    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, _prompt_terms())


def bm25_topk(
    d: DataFrame, terms: tuple[str, ...], k: int = BM25_K
) -> DataFrame:
    """Parameterized BM25 plan (see ``text_bm25_topk``); the 100x
    stress tier calls this with the scale corpus's vocabulary."""
    n_docs, total_len = d.agg(
        F.count(F.lit(1)), F.sum(T.token_count(F.col("text")))
    ).first()
    avgdl = F.lit(float(total_len) / float(n_docs))
    toks = d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("dl"),
        F.explode(T.tokens(F.col("text"))).alias("tok"),
    ).where(F.col("tok").isin(*terms))
    tf = toks.groupBy("doc_id", "dl", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    contrib = F.round(
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
        ),
        R,
    ).cast(f"decimal(18,{R})")
    return (
        tf.join(F.broadcast(df), "tok")
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# BPE merge training: the tokenizer-construction pass of an LLM data
# pipeline (Sennrich et al. 2016), as a distributed word-count + an
# iterative bounded-vocabulary merge loop
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def _bpe_merge_once(s: list[str], a: str, b: str) -> list[str]:
    """One left-to-right non-overlapping merge pass — THE reference
    semantics every BPE artifact in the tree (distributed trainer,
    replace-chain encoder, python oracle trainer, tests) must agree
    with."""
    out, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return out


def bpe_apply_merges(word: str, merges) -> list[str]:
    """Classic rank-ordered BPE application to one word (pure python);
    the single source of truth the equality tests compare the
    distributed replace-chain encoder against."""
    s = list(word)
    for m in merges:
        # accept (rank, a, b, merged, n) rows or bare (a, b) pairs
        a, b = (m[1], m[2]) if len(m) >= 4 else (m[0], m[1])
        s = _bpe_merge_once(s, a, b)
    return s


def _bpe_learn_driver(word_freq: dict[str, int], n_merges: int):
    """Pure-python BPE replication for the oracle fold: identical pair
    counting (every adjacent occurrence, weighted by word frequency),
    identical argmax tie-break (count DESC, pair ASC), identical
    left-to-right non-overlapping merge."""
    seqs = {w: w and list(w) or [] for w in word_freq}
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, f in word_freq.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        merges.append((rank, a, b, a + b, n))
        for w in seqs:
            seqs[w] = _bpe_merge_once(seqs[w], a, b)
    return merges


def _bpe_corpus_freq() -> dict[str, int]:
    """Word-frequency table over the oracle corpus (the trained-constant
    device of functions/train.py)."""
    import pyarrow.parquet as pq

    from ..functions.train import ORACLE_SF_DIR

    t = pq.read_table(f"{ORACLE_SF_DIR}/documents.parquet", columns=["text"])
    freq: dict[str, int] = {}
    for text in t.column("text").to_pylist():
        for w in (text or "").split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    return freq


def _sqlq(s: str) -> str:
    """SQL-quote a corpus-derived token (escape embedded quotes)."""
    return "'" + s.replace("'", "''") + "'"


def _bpe_oracle() -> str:
    freq = _bpe_corpus_freq()
    merges = _bpe_learn_driver(freq, BPE_MERGES)

    q = _sqlq

    values = ",\n  ".join(
        f"({r}, {q(a)}, {q(b)}, {q(m)}, {n})" for r, a, b, m, n in merges
    )
    return f"""
SELECT CAST(rank AS INTEGER) AS rank, left_sym, right_sym, merged,
       CAST(pair_count AS BIGINT) AS pair_count
FROM (VALUES
  {values}
) AS t(rank, left_sym, right_sym, merged, pair_count)
"""


@register("tokenizer_bpe_merges", oracle=_bpe_oracle)
def q_tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016) with
    the production cost split: the CORPUS-scale stage is one
    distributed word-frequency aggregate (the only pass that touches
    every document; at 100 TB it is a map-side-combined hash agg), and
    the merge loop then iterates over the DISTINCT-WORD table —
    bounded by vocabulary, not corpus, which is exactly why real BPE
    trainers tabulate word counts first.  Each iteration counts
    adjacent symbol pairs (weighted by word frequency) in one small
    agg, collects the single argmax row (count DESC, pair ASC — the
    deterministic tie-break), and applies the merge with a
    lookaround regex whose left-to-right non-overlapping semantics
    equal the classic merge loop.  The oracle is a
    pure-python replication over the same corpus: any divergence in
    pair counting, tie-breaking, or merge order shifts a row."""
    merges = _bpe_merges_for(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, merged string, pair_count long"
    )


# Memoized per corpus directory: the merge table is a trained constant
# of the corpus (same discipline as pq.py's codebook cache), so the
# merges row and the encode row share one training run per sf_dir.
_BPE_MERGES_CACHE: dict[str, list[tuple[int, str, str, str, int]]] = {}


def _bpe_merges_for(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, str, int]]:
    if sf_dir not in _BPE_MERGES_CACHE:
        d = load_table(spark, sf_dir, "documents")
        _BPE_MERGES_CACHE[sf_dir] = bpe_train_distributed(_bpe_word_freq_df(d))
    return _BPE_MERGES_CACHE[sf_dir]


def _bpe_word_freq_df(d: DataFrame) -> DataFrame:
    """The corpus-scale stage of BPE training: ONE distributed
    word-frequency aggregate (map-side-combined hash agg), seeded with
    the space-separated character sequence.  Checkpointed eagerly —
    one row per DISTINCT word, the table every merge iteration loops
    over."""
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        # seed symbol sequence: space-separated characters
        .withColumn("seq", F.regexp_replace("word", "(?s)(.)", "$1 "))
        .withColumn("seq", F.trim("seq"))
        .localCheckpoint(eager=True)  # bounded: one row per distinct word
    )


def bpe_train_distributed(
    words: DataFrame, n_merges: int = BPE_MERGES
) -> list[tuple[int, str, str, str, int]]:
    """The vocabulary-bounded merge loop (see q_tokenizer_bpe_merges
    for the full contract); returns [(rank, left, right, merged, n)]."""
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        pairs = (
            words.select(
                "freq", F.split("seq", " ").alias("a")
            )
            .select(
                "freq",
                F.explode(
                    # guard: a 1-symbol word has no pairs (sequence(1,0)
                    # would DESCEND and element_at(a,0) throws)
                    F.expr(
                        "CASE WHEN size(a) >= 2 THEN"
                        " transform(sequence(1, size(a) - 1),"
                        " i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"
                        " ELSE array() END"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("pair")).limit(1).collect()
        if not top:
            break
        pair, n = top[0]["pair"], top[0]["n"]
        a, b = pair.split(" ")
        merges.append((rank, a, b, a + b, int(n)))
        import re as _re

        pat = f"(?<= ){_re.escape(a)} {_re.escape(b)}(?= )"
        words = words.withColumn(
            "seq",
            F.trim(
                F.regexp_replace(
                    F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                    pat,
                    a + b,
                )
            ),
        ).localCheckpoint(eager=True)
    return merges


# ---------------------------------------------------------------------------
# BPE ENCODE: applying the trained merges to the corpus — the tokenize
# pass that follows merge training in every LLM data pipeline (token
# budgeting, sequence packing, fertility audits all consume it).
# ---------------------------------------------------------------------------


def _bpe_seq0_sql(word_expr: str) -> str:
    """Double-space char seeding, DuckDB spelling (see _bpe_encode_expr
    for why the separators are doubled)."""
    return f"' ' || regexp_replace({word_expr}, '(?s)(.)', '\\1  ', 'g')"


def _bpe_encode_expr(merges) -> Column:
    """Chained literal replaces that apply BPE merges in rank order.

    Encoding trick: the symbol sequence is spelled with DOUBLED
    separators (`` a  b  c ``) so that plain left-to-right
    non-overlapping ``replace(seq, ' a  b ', ' ab ')`` is EXACTLY the
    classic BPE merge step — each match consumes one space of each
    neighbouring double, leaving the single space the next adjacent
    match needs, so runs like ``abab`` merge both pairs in one pass
    while overlaps like ``aaaa`` merge left-to-right non-overlapping
    (asserted equal to the classic per-word merge loop in
    tests/test_properties.py).  No regex lookaround — the same literal
    replace exists in DuckDB, keeping the oracle engine-portable (RE2
    has no lookbehind).  The whole chain is ONE whole-stage-codegen
    projection over the distinct-word table."""
    seq = F.concat(F.lit(" "), F.regexp_replace("word", "(?s)(.)", "$1  "))
    for _rank, a, b, m, _n in merges:
        seq = F.replace(seq, F.lit(f" {a}  {b} "), F.lit(f" {m} "))
    return seq


def _bpe_encode_oracle() -> str:
    freq = _bpe_corpus_freq()
    merges = _bpe_learn_driver(freq, BPE_MERGES)
    expr = _bpe_seq0_sql("word")
    for _rank, a, b, m, _n in merges:
        expr = f"replace({expr}, {_sqlq(f' {a}  {b} ')}, {_sqlq(f' {m} ')})"
    return f"""
WITH words AS (
  SELECT word FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents) t
  WHERE word <> '' GROUP BY word
),
enc AS (
  SELECT word,
         CAST(len(list_filter(string_split({expr}, ' '), s -> s <> '')) AS INTEGER) AS n_tok
  FROM words
),
dw AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
)
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(e.n_tok) AS DOUBLE) / COUNT(*), {R}) AS fertility
FROM dw JOIN enc e USING (word)
WHERE dw.word <> ''
GROUP BY dw.doc_id
ORDER BY dw.doc_id
"""


@register("tokenizer_bpe_encode", oracle=_bpe_encode_oracle)
def q_tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply distributed-trained BPE merges to tokenize the corpus:
    per-document token counts and fertility (tokens per word).

    Production cost split, same as training: the merge table comes from
    the vocabulary-bounded trainer (bpe_train_distributed), the ENCODE
    runs once per DISTINCT word — an 8-deep literal-replace chain in a
    single codegen projection — and the corpus-scale stage is one
    word-keyed broadcast join + per-doc hash agg.  At 100 TB the vocab
    table is MBs (bounded by distinct words, not tokens), so the join
    ships no corpus bytes; encode work is O(vocab), not O(corpus),
    which is exactly how production tokenizers amortize (word-level
    memoization).  The oracle replays the identical replace chain in
    DuckDB with oracle-time python-trained merges — the trainer
    equivalence is already value-hashed by tokenizer_bpe_merges, so any
    drift in the ENCODE semantics (overlap handling, merge order)
    shifts a token count."""
    d = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges_for(spark, sf_dir)
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    toks = F.filter(
        F.split(_bpe_encode_expr(merges), " "), lambda s: s != F.lit("")
    )
    enc = words.select("word", F.size(toks).alias("n_tok"))
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        dw.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), R
            ).alias("fertility"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher REPETITION rules: within-document duplicate / dominant n-gram
# fractions (Rae et al. 2021 §A1.1 "repetition" filters — the family
# quality_gopher_rules does not cover, which is word/stopword stats).
# ---------------------------------------------------------------------------

REP_DUP_MAX_PCT = 20  # keep if duplicate-2gram fraction <= 20%
REP_TOP_MAX_PCT = 10  # and the most frequent 2-gram covers <= 10%


@register(
    "quality_repetition_rules",
    oracle=f"""
WITH grams AS (
  SELECT doc_id, UNNEST(list_transform(range(1, len(ws)),
                                       i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
per_gram AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(cnt) AS BIGINT) AS top_count,
       (100 * (SUM(cnt) - COUNT(*)) <= {REP_DUP_MAX_PCT} * SUM(cnt)
        AND 100 * MAX(cnt) <= {REP_TOP_MAX_PCT} * SUM(cnt)) AS keep
FROM per_gram
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q_quality_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021, §A1.1): a document
    whose 2-grams repeat heavily (boilerplate, keyword stuffing, decode
    loops) is dropped before training.  Two integer-exact rules per
    document — duplicate-2gram fraction (``(n-distinct)/n``) and
    dominant-2gram fraction (``top/n``) — evaluated as cross-multiplied
    integer comparisons so the keep flag hashes exactly (no float
    ratio).  Plan shape: split+zip_with builds grams in codegen and ONE
    explode feeds the (doc_id, gram) count; the per-doc rollup then
    shuffles only the per-gram COUNT rows (already collapsed, with a
    map-side partial aggregate on top) — the exploded gram stream
    itself crosses the wire once.  At 100 TB nothing is held per-doc
    except aggregation buffers."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    grams = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    per_gram = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dup_ok = 100 * (F.col("n_grams") - F.col("n_distinct")) <= (
        REP_DUP_MAX_PCT * F.col("n_grams")
    )
    top_ok = 100 * F.col("top_count") <= REP_TOP_MAX_PCT * F.col("n_grams")
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            "top_count",
            (dup_ok & top_ok).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PMI collocations — phrase induction, the corpus statistic behind
# word2vec-style phrase detection (Mikolov et al. 2013's score without
# the discount) and tokenizer vocabulary building.  Scale shape: ONE
# bigram explode + hash agg (map-side combined, exchange is O(bigram
# vocab) not O(tokens)), two vocab-keyed joins for the unigram
# marginals, a 1-row corpus-total scalar, TakeOrderedAndProject.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 20


@register(
    "text_collocations_pmi",
    oracle=f"""
WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
uni AS (SELECT unnest(ts) AS tok FROM toks),
ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni),
big AS (
  SELECT t.ts[i.i] AS x, t.ts[i.i + 1] AS y
  FROM toks t, LATERAL (SELECT unnest(generate_series(1, len(t.ts) - 1)) AS i) i
),
bcnt AS (SELECT x, y, COUNT(*) AS cxy FROM big GROUP BY x, y)
SELECT b.x || ' ' || b.y AS bigram,
       b.cxy AS n_pair,
       ROUND(LN(CAST(b.cxy AS DOUBLE) * nu.n
                / (CAST(cx.c AS DOUBLE) * CAST(cy.c AS DOUBLE))), {R}) AS pmi
FROM bcnt b
JOIN ucnt cx ON cx.tok = b.x
JOIN ucnt cy ON cy.tok = b.y
CROSS JOIN nu
WHERE b.cxy >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, bigram
LIMIT {PMI_TOP}
""",
)
def q_text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    ``ln(c_xy * N / (c_x * c_y))`` over whitespace bigrams, min
    support PMI_MIN_COUNT.  The adjacent-pair stream is built inside
    the row with an indexed ``transform`` (0-based ``ts[i+1]``
    partner), so no second explode pass over the corpus; the unigram
    marginals attach via two token-keyed joins (AQE broadcasts the
    vocab side when runtime-small) and the corpus total via a 1-row
    scalar.  Same ln+ROUND(6) cross-engine device as tf-idf/BM25."""
    d = load_table(spark, sf_dir, "documents")
    ts = T.tokens(F.col("text"))
    # adjacent_grams let-binds the split array so the lambda indexes a
    # bound variable — the raw transform-over-split spelling re-splits
    # the text per element, O(L^2) per document (ADVICE r11; the exact
    # pitfall functions/text.py::let1 documents)
    pairs = d.select(
        F.explode(
            T.adjacent_grams(
                F.col("text"),
                2,
                lambda toks, i: F.struct(
                    F.element_at(toks, i).alias("x"),
                    F.element_at(toks, i + 1).alias("y"),
                ),
                "array<struct<x:string,y:string>>",
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    bcnt = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_pair"))
    uni = d.select(F.explode(ts).alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nu = uni.groupBy().agg(F.count(F.lit(1)).cast("double").alias("n"))
    pmi = F.round(
        F.log(
            F.col("n_pair").cast("double")
            * F.col("n")
            / (F.col("cx").cast("double") * F.col("cy").cast("double"))
        ),
        R,
    )
    return (
        bcnt.where(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(ucnt.select(F.col("tok").alias("x"), F.col("c").alias("cx")), "x")
        .join(ucnt.select(F.col("tok").alias("y"), F.col("c").alias("cy")), "y")
        .crossJoin(nu)
        .select(
            F.concat_ws(" ", "x", "y").alias("bigram"),
            "n_pair",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(PMI_TOP)
    )


# ---------------------------------------------------------------------------
# UNIGRAM-LM tokenizer training (SentencePiece's unigram model, Kudo
# 2018, public) — the missing half of the tokenizer family (BPE merge
# train/encode above): seed a piece inventory from word substrings,
# then hard-EM (Viterbi E-step, count-renormalizing M-step) over the
# DISTINCT-WORD table.  Same production cost split as BPE: the only
# corpus-scale pass is the word-frequency aggregate; every EM pass is
# bounded by vocabulary, and the per-iteration exchange is <= |pieces|
# integer rows.  Same trained-constant oracle discipline as
# Lloyd/power-iteration: the oracle-time pure-python replication
# runs the IDENTICAL seed selection, Viterbi tie-breaks, and count
# updates, so any drift in segmentation or EM bookkeeping shifts a row.
# ---------------------------------------------------------------------------

UNIGRAM_MAXLEN = 4  # max piece length in the seed inventory
UNIGRAM_MULTI = 24  # multi-char pieces kept (all single chars always kept)
UNIGRAM_ITERS = 3  # hard-EM rounds
UNIGRAM_REPORT = 30  # final rows reported (count DESC, piece ASC)


# _viterbi_segment moved to functions.text (light worker-import home);
# re-exported here because tests and the oracle replication import it
# by this module path.
from ..functions.text import _viterbi_segment  # noqa: E402




def _unigram_em_rounds(
    vocab: dict[str, int],
    count_pass,
    iters: int = UNIGRAM_ITERS,
) -> dict[str, int]:
    """The driver-replayed EM loop shared by the distributed trainer
    and the python replication: ``count_pass(logp)`` returns the
    piece→weighted-count map of Viterbi-segmenting every word under
    ``logp``; the M-step is count renormalization (implicit — only
    ratios enter the next E-step, so integer counts ARE the state)."""
    import math

    for _ in range(iters):
        total = sum(vocab.values())
        logp = {p: math.log(n / total) for p, n in vocab.items() if n > 0}
        fresh = count_pass(logp)
        vocab = {p: int(fresh.get(p, 0)) for p in vocab}
    return vocab


def _unigram_seed_vocab(
    singles: list[tuple[str, int]], multis_top: list[tuple[str, int]]
) -> dict[str, int]:
    """Seed inventory: ALL single chars (guarantees segmentability)
    plus the top UNIGRAM_MULTI multi-char substrings by
    (count DESC, piece ASC)."""
    vocab = {p: n for p, n in singles}
    for p, n in sorted(multis_top, key=lambda kv: (-kv[1], kv[0]))[:UNIGRAM_MULTI]:
        vocab[p] = n
    return vocab


def unigram_train_distributed(
    words: DataFrame, iters: int = UNIGRAM_ITERS
) -> dict[str, int]:
    """Distributed unigram-LM training over the (word, freq) table;
    returns the final EM piece→count vocabulary — the trained constant
    (_unigram_report renders the registered row's view of it).

    Stage shape: substring seeding is one JVM flatten/transform explode
    + hash agg over the distinct-word table; the single-char side
    collects bounded by the ALPHABET and the multi-char side through a
    TakeOrdered top-k (never a full collect); each EM round is one
    Arrow-batched Viterbi pass over the words (piece probs folded into
    the closure — <= alphabet+UNIGRAM_MULTI floats) whose output
    exchange is <= |pieces| integer rows.  At 100 TB every stage after
    the word-frequency aggregate is bounded by vocabulary."""
    import pandas as pd  # noqa: F401 — pandas_udf signature

    subs = words.select(
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), s -> "
                f"transform(sequence(1, least({UNIGRAM_MAXLEN}, length(word) - s + 1)), "
                f"l -> substring(word, s, l))))"
            )
        ).alias("piece"),
    )
    cnts = (
        subs.groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n"))
        .localCheckpoint(eager=True)  # bounded: one row per distinct substring
    )
    singles = [
        (r["piece"], int(r["n"]))
        for r in cnts.where(F.length("piece") == 1).collect()  # bounded: alphabet
    ]
    multis = [
        (r["piece"], int(r["n"]))
        for r in cnts.where(F.length("piece") > 1)
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(UNIGRAM_MULTI)
        .collect()  # bounded: UNIGRAM_MULTI rows via TakeOrdered
    ]
    vocab = _unigram_seed_vocab(singles, multis)

    def count_pass(logp: dict[str, float]) -> dict[str, int]:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<string>")
        def seg(col):
            from mcp_server_vector_search_spark.functions.text import (
                _viterbi_segment,
            )

            return col.map(lambda w: _viterbi_segment(w, logp))

        rows = (
            words.select("freq", F.explode(seg("word")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("n"))
            .collect()  # bounded: <= |pieces| rows
        )
        return {r["piece"]: int(r["n"]) for r in rows}

    return _unigram_em_rounds(vocab, count_pass, iters)


def _unigram_report(vocab: dict[str, int]) -> list[tuple[int, str, int, float]]:
    total = sum(vocab.values())
    kept = sorted(
        ((p, n) for p, n in vocab.items() if n > 0), key=lambda kv: (-kv[1], kv[0])
    )[:UNIGRAM_REPORT]
    return [(rank, p, n, n / total) for rank, (p, n) in enumerate(kept)]


def _unigram_learn_driver(word_freq: dict[str, int], iters: int = UNIGRAM_ITERS):
    """Pure-python replication for the oracle: identical seeding
    (every substring occurrence weighted by word freq), identical
    top-multi selection, identical Viterbi + EM bookkeeping."""
    seed: dict[str, int] = {}
    for w, f in word_freq.items():
        L = len(w)
        for s in range(L):
            for l in range(1, min(UNIGRAM_MAXLEN, L - s) + 1):
                p = w[s : s + l]
                seed[p] = seed.get(p, 0) + f
    singles = [(p, n) for p, n in seed.items() if len(p) == 1]
    multis = [(p, n) for p, n in seed.items() if len(p) > 1]
    vocab = _unigram_seed_vocab(singles, multis)

    def count_pass(logp: dict[str, float]) -> dict[str, int]:
        fresh: dict[str, int] = {}
        for w, f in word_freq.items():
            for piece in _viterbi_segment(w, logp):
                fresh[piece] = fresh.get(piece, 0) + f
        return fresh

    return _unigram_em_rounds(vocab, count_pass, iters)


def _unigram_oracle() -> str:
    freq = _bpe_corpus_freq()
    from ..functions.train import sql_float

    rows = _unigram_report(_unigram_learn_driver(freq))
    q = _sqlq
    values = ",\n  ".join(
        f"({r}, {q(p)}, {n}, {sql_float(pr)})" for r, p, n, pr in rows
    )
    return f"""
SELECT CAST(rank AS INTEGER) AS rank, piece,
       CAST(em_count AS BIGINT) AS em_count,
       CAST(prob AS DOUBLE) AS prob
FROM (VALUES
  {values}
) AS t(rank, piece, em_count, prob)
ORDER BY rank
"""


# Memoized per corpus directory: the EM vocabulary is a trained
# constant of the corpus (same discipline as the BPE merge cache), so
# the train and encode rows share one training run per sf_dir.
_UNIGRAM_CACHE: dict[str, dict[str, int]] = {}


def _unigram_vocab_for(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    if sf_dir not in _UNIGRAM_CACHE:
        d = load_table(spark, sf_dir, "documents")
        _UNIGRAM_CACHE[sf_dir] = unigram_train_distributed(
            _bpe_word_freq_df(d).select("word", "freq")
        )
    return _UNIGRAM_CACHE[sf_dir]


@register("tokenizer_unigram_train", oracle=_unigram_oracle)
def q_tokenizer_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram-LM training (Kudo 2018): substring
    seed inventory → hard EM (Arrow-batched Viterbi E-step, count
    M-step) over the distinct-word table — reported as the top pieces
    with EM counts and final probabilities.  The distributed trainer
    and the oracle-time python replication share every decision
    function (seed selection, Viterbi tie-breaks, EM rounds), so the
    row value-hashes exactly; probabilities divide the same exact
    integers in the same CPython driver on both sides."""
    return spark.createDataFrame(
        _unigram_report(_unigram_vocab_for(spark, sf_dir)),
        "rank int, piece string, em_count long, prob double",
    ).orderBy("rank")


def _unigram_encode_logp(vocab: dict[str, int]) -> dict[str, float]:
    import math

    total = sum(vocab.values())
    return {p: math.log(n / total) for p, n in vocab.items() if n > 0}


def _unigram_encode_oracle() -> str:
    freq = _bpe_corpus_freq()
    logp = _unigram_encode_logp(_unigram_learn_driver(freq))
    q = _sqlq
    values = ",\n  ".join(
        f"({q(w)}, {len(_viterbi_segment(w, logp))})" for w in sorted(freq)
    )
    return f"""
WITH enc(word, n_tok) AS (VALUES
  {values}
),
dw AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
)
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(e.n_tok) AS DOUBLE) / COUNT(*), {R}) AS fertility
FROM dw JOIN enc e USING (word)
WHERE dw.word <> ''
GROUP BY dw.doc_id
ORDER BY dw.doc_id
"""


@register("tokenizer_unigram_encode", oracle=_unigram_encode_oracle)
def q_tokenizer_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the distributed-trained unigram LM to tokenize the corpus:
    per-document token counts and fertility, the Viterbi counterpart of
    ``tokenizer_bpe_encode``.

    Production cost split, same as BPE encode: segmentation runs once
    per DISTINCT word (one Arrow-batched Viterbi pass over the
    vocabulary-bounded word table, the trained logp folded into the
    closure), and the corpus-scale stage is a word-keyed broadcast
    join + per-doc hash agg — encode work is O(vocab), not O(corpus).
    The oracle replays the identical Viterbi under the replication-
    trained logp as a VALUES join; the trainer equivalence is already
    value-hashed by tokenizer_unigram_train, so this row isolates the
    ENCODE semantics (segmentation, per-word memoization, the join)."""
    import pandas as pd  # noqa: F401

    from pyspark.sql.functions import pandas_udf

    logp = _unigram_encode_logp(_unigram_vocab_for(spark, sf_dir))

    @pandas_udf("int")
    def n_tok(col):
        from mcp_server_vector_search_spark.functions.text import (
            _viterbi_segment,
        )

        return col.map(lambda w: len(_viterbi_segment(w, logp)))

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    enc = words.select("word", n_tok("word").alias("n_tok"))
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return (
        dw.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_tok").cast("double") / F.count(F.lit(1)), R
            ).alias("fertility"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# text_entropy_chars — per-document character-distribution entropy, the
# compressibility proxy every large web-curation pipeline runs (the
# MassiveText/RefinedWeb "gibberish and boilerplate both have abnormal
# entropy" gate: machine-generated keyboard mash scores HIGH, template
# boilerplate and repeated-char padding score LOW).  Exact Shannon
# entropy over character UNIGRAMS and BIGRAMS — not a zlib ratio, which
# no SQL engine can replay — plus the bigram/unigram ratio that
# approximates a first-order Markov redundancy measure.
#
# Scale shape: the (doc_id, gram) census is the module's standard
# exploded aggregate (map-side combined; gram cardinality per doc is
# bounded by text length), the per-doc entropy fold is a second hash
# agg on doc_id sharing no corpus-wide state, and nothing leaves
# codegen except the two exchanges.  At 100 TB this is the same plan —
# both aggs key on doc_id(+gram), so AQE splits skew from a pathological
# giant doc without code changes.
# ---------------------------------------------------------------------------

ENTROPY_MIN_LEN = 2  # docs shorter than one bigram are out of domain


@register(
    "text_entropy_chars",
    oracle=f"""
WITH doms AS (
  SELECT doc_id, text, len(text) AS n
  FROM documents WHERE len(text) >= {ENTROPY_MIN_LEN}
),
uni AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(1, n + 1),
                                         i -> substr(text, i, 1))) AS g
    FROM doms
  ) GROUP BY doc_id, g
),
bi AS (
  SELECT doc_id, g, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(list_transform(range(1, n),
                                         i -> substr(text, i, 2))) AS g
    FROM doms
  ) GROUP BY doc_id, g
),
utot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS t,
                CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS d
         FROM uni GROUP BY doc_id),
btot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS t FROM bi GROUP BY doc_id),
hu AS (
  SELECT u.doc_id, MAX(ut.n) AS n_chars, MAX(ut.d) AS n_distinct_chars,
         -SUM((u.c / ut.t) * log2(u.c / ut.t)) AS h1
  FROM uni u JOIN utot ut ON ut.doc_id = u.doc_id GROUP BY u.doc_id
),
hb AS (
  SELECT b.doc_id, -SUM((b.c / bt.t) * log2(b.c / bt.t)) AS h2
  FROM bi b JOIN btot bt ON bt.doc_id = b.doc_id GROUP BY b.doc_id
)
SELECT hu.doc_id, hu.n_chars, hu.n_distinct_chars,
       ROUND(hu.h1, {R}) AS h1_bits,
       ROUND(hb.h2, {R}) AS h2_bits,
       ROUND(hb.h2 - hu.h1, {R}) AS markov_gain_bits
FROM hu JOIN hb ON hb.doc_id = hu.doc_id
ORDER BY hu.doc_id
""",
)
def q_text_entropy_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character unigram/bigram Shannon entropy per document plus the
    first-order gain H2 − H1 (≈ conditional next-char entropy): the
    three-number compressibility profile that separates natural prose
    (H1 ≈ 4 bits, positive gain) from mash (high H1, gain ≈ H1) and
    padding (H1 → 0).

    The window-in-aggregate spelling the oracle uses is flattened here
    into two hash aggregates per gram order (census, then the p·log2 p
    fold) — same numbers, and Spark keeps both stages in codegen."""
    from ..sources.tables import spread

    # the gram explodes are the CPU hot path and the gate scan is 1-3
    # splits — spread before fanning out (the weighted-MinHash lesson)
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= ENTROPY_MIN_LEN)
        .select("doc_id", "text", F.length("text").alias("n"))
    )

    def gram_census(width: int) -> DataFrame:
        grams = F.expr(
            f"transform(sequence(1, n - {width - 1}), i -> substring(text, i, {width}))"
        )
        return (
            docs.select("doc_id", F.explode(grams).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def entropy_fold(census: DataFrame, h_name: str) -> DataFrame:
        # -Σ (c/T) log2 (c/T) = log2 T − (Σ c·log2 c)/T would be one
        # pass, but the DOUBLE association order would differ from the
        # oracle's p·log2 p term sum; keep the shared term shape.  The
        # per-doc total T rides a count window over the doc_id partition
        # (r17, guide §2.4) instead of a separate groupBy joined back:
        # T is an exact LONG sum either way (order-free), the window's
        # doc_id exchange is the same one the fold's groupBy needs, and
        # the join + its extra scan of the census disappear.
        from pyspark.sql import Window as W

        return (
            census.withColumn(
                "t", F.sum("c").over(W.partitionBy("doc_id")).cast("double")
            )
            .groupBy("doc_id")
            .agg(
                F.sum("c").cast("long").alias(f"__n_{h_name}"),
                F.count(F.lit(1)).cast("long").alias(f"__d_{h_name}"),
                (-F.sum(
                    (F.col("c") / F.col("t").cast("double"))
                    * F.log2(F.col("c") / F.col("t").cast("double"))
                )).alias(h_name)
            )
        )

    hu = entropy_fold(gram_census(1), "h1")
    hb = entropy_fold(gram_census(2), "h2")
    return (
        hu.join(hb, "doc_id")
        .select(
            "doc_id",
            F.col("__n_h1").alias("n_chars"),
            F.col("__d_h1").alias("n_distinct_chars"),
            F.round("h1", R).alias("h1_bits"),
            F.round("h2", R).alias("h2_bits"),
            F.round(F.col("h2") - F.col("h1"), R).alias("markov_gain_bits"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# percolate_stored_queries — PERCOLATION, the reverse of retrieval:
# retrieval holds an index of documents and matches ONE query;
# percolation holds a registry of STORED queries (alert rules, saved
# searches, routing predicates) and matches every arriving document
# against ALL of them in one pass — the Elasticsearch-percolator /
# pub-sub-matching direction the inverted-AND row doesn't cover.
# Algebraically it is a SET-CONTAINMENT JOIN (query term-set ⊆ doc
# token-set), executed as the classic inverted probe: explode distinct
# doc tokens once, broadcast-join the tiny query-term table, and an
# exact per-(doc, query) match count equal to the query's arity keeps
# containment only.
#
# The stored registry is derived deterministically from the corpus
# vocabulary (top-60 words by (frequency DESC, word), grouped in
# threes → 20 conjunctive rules) so the gate corpus is self-contained;
# a production registry is a table read with the same shape.
# ---------------------------------------------------------------------------

PERC_TOP_WORDS = 60
PERC_ARITY = 3


@register(
    "percolate_stored_queries",
    oracle=f"""
WITH wf AS (
  SELECT w, COUNT(*) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY w
),
top AS (SELECT * FROM wf ORDER BY c DESC, w LIMIT {PERC_TOP_WORDS}),
q AS (
  SELECT CAST((ROW_NUMBER() OVER (ORDER BY c DESC, w) - 1) // {PERC_ARITY}
              AS INTEGER) AS query_id,
         w AS term
  FROM top
),
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
m AS (
  SELECT t.doc_id, q.query_id, COUNT(*) AS k
  FROM toks t JOIN q ON q.term = t.tok
  GROUP BY t.doc_id, q.query_id
)
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
FROM m WHERE k = {PERC_ARITY}
GROUP BY query_id ORDER BY query_id
""",
)
def q_percolate_stored_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match every document against all 20 stored conjunctive rules in
    one pass; per rule: matching-doc count plus min/max/sum identity
    certificates (a duplicated or dropped doc shifts the sum even when
    counts collide).

    Scale shape: the registry build is a TakeOrdered top-60 (no global
    sort; the row_number window then orders 60 rows, not the vocab),
    the registry broadcasts, the corpus pays ONE distinct-token explode
    probed map-side, and both aggregates key on (doc_id, query_id) /
    query_id — arriving-document percolation at 100 TB is this same
    plan with the explode running over the new batch only."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = wf.orderBy(F.desc("c"), F.asc("w")).limit(PERC_TOP_WORDS)
    rn = F.row_number().over(W.orderBy(F.desc("c"), F.asc("w")))
    queries = top.select(
        ((rn - 1) / PERC_ARITY).cast("int").alias("query_id"),
        F.col("w").alias("term"),
    )
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    m = (
        toks.join(F.broadcast(queries), toks.tok == queries.term)
        .groupBy("doc_id", "query_id")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        m.where(F.col("k") == PERC_ARITY)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
        .orderBy("query_id")
    )
