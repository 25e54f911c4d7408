"""Deduplication operators over ``documents`` / ``embeddings``.

The dedup family a pretraining-data pipeline needs (BASELINE.json north
star), each at a different exactness/scale point:

- exact:        md5 group-by               (hash agg, one shuffle on the hash)
- normalized:   bag-of-words signature     (sorted distinct vocab as key)
- n-gram:       3-gram shingle Jaccard     (shingle equi-join, exact)
- MinHash LSH:  banded signature join      (the 100 TB path: candidates from
                                            band buckets, exact verify after)
- SimHash:      60-bit fingerprint + Hamming pairs
- embedding:    cosine near-dup pairs      (vector-space dedup)

Everything is md5-derived and mod-2^31 arithmetic (functions/hashing.py)
so the whole pipeline — including MinHash signatures and band buckets —
is bit-reproducible by the DuckDB oracle.  That makes even the LSH
operator hash-checkable, which MLlib's MinHashLSH (random seeds,
JVM-private hashing) would not be.

Scale notes: the LSH band join shuffles on (band_idx, band_key) —
bucket sizes are the skew risk, AQE skew-join handles the hot full-vocab
bucket.  The exact n-gram join shuffles on shingle; its fan-out is
bounded by shingle frequency, the verify joins are candidate×vocab.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    MERSENNE31,
    MINHASH_A,
    MINHASH_B,
    N_MINHASH,
    duckdb_hash60_mod,
    duckdb_hex15_to_bigint,
    md5_hash60,
    md5_hash60_mod,
    minhash_perm,
)
from ..functions.text import adjacent_grams, bag_signature, let1, tokens
from ..registry import register
from ..sources.tables import load_table, spread
from ..cache import scratch_persist

R = 6

# ---------------------------------------------------------------------------
# Exact + normalized dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content hash, keep the lowest doc_id.
    Grouping on md5 instead of the full text keeps the shuffle key at
    32 bytes regardless of document size — the difference between
    shuffling 100 TB of text and 100 GB of digests."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_bag_groups",
    oracle="""
SELECT sig AS bag_sig, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
  FROM documents
)
GROUP BY sig
HAVING COUNT(*) > 1
""",
)
def dedup_bag_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized near-dup groups: documents with identical vocabulary
    (bag-of-words signature), i.e. word-order permutations."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", bag_signature(F.col("text")).alias("bag_sig"))
        .groupBy("bag_sig")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# N-gram shingle Jaccard (exact near-dup)
# ---------------------------------------------------------------------------

NGRAM = 3
JACCARD_T = 0.5
# Exact rational form of JACCARD_T for PPJoin prefix-length arithmetic:
# computing p = n - ceil(t*n) + 1 in double arithmetic is unsafe for
# thresholds not exact in binary (0.8*5 -> 4.0000000000000002, ceil -> 5,
# prefix one short of the PPJoin bound -> silently dropped true pairs),
# so the prefix length uses integer ceil(T_NUM*n/T_DEN).  Keep these in
# sync with JACCARD_T.
JACCARD_T_NUM = 1
JACCARD_T_DEN = 2
assert JACCARD_T == JACCARD_T_NUM / JACCARD_T_DEN


def _shingles(text_col, n: int = NGRAM):
    """DISTINCT word n-gram shingles of a document (set semantics for
    the Jaccard family), via the shared guarded/let-bound gram builder
    (functions/text.adjacent_grams)."""
    grams = adjacent_grams(
        text_col,
        n,
        lambda toks, i: F.concat_ws(
            " ", *[F.element_at(toks, i + off) for off in range(n)]
        ),
        "array<string>",
    )
    return F.array_distinct(grams)


_NGRAM_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' ')) - {NGRAM - 2}),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2])) AS s
  FROM documents
),
c AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       ROUND(i::DOUBLE / (ca.n + cb.n - i), {R}) AS jaccard
FROM inter
JOIN c ca ON a_id = ca.doc_id
JOIN c cb ON b_id = cb.doc_id
WHERE ROUND(i::DOUBLE / (ca.n + cb.n - i), {R}) >= {JACCARD_T}
"""


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.

    Pairs are generated by the shingle equi-join (docs sharing no
    shingle never meet — this is NOT a cross join), then scored
    i/(|A|+|B|-i).  The shuffle key is the shingle; fan-out is bounded
    by shingle document-frequency, which is what keeps this viable at
    scale (hot shingles are the skew risk → AQE).

    Physical shape: each exploded shingle row carries its document's
    total shingle COUNT (one extra int per row), so the per-pair union
    size falls out of the same aggregation that counts the intersection
    — no join back to a per-document size table at all (the previous
    shape either force-broadcast a corpus-sized table or paid two
    shuffle joins).  The shingle ARRAY table is what persists — caching
    the exploded per-shingle rows instead costs more to materialize
    than the explode it saves (measured 2×); both self-join sides
    explode lazily from the cached arrays."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sh_arrays = d.select("doc_id", _shingles(F.col("text")).alias("sh")).transform(scratch_persist)
    sh = sh_arrays.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    jac = F.round(
        F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), R
    )
    return (
        inter.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= JACCARD_T)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out eval set
# ---------------------------------------------------------------------------

DECON_NGRAM = 5
BENCH_MAX_DOC = 25  # stand-in eval set: doc_id < 25


def _decon_shingle_sql(src_filter: str) -> str:
    parts = " || ' ' || ".join(
        f"string_split(text, ' ')[i+{off}]" for off in range(DECON_NGRAM)
    )
    return f"""
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           range(1, len(string_split(text, ' ')) - {DECON_NGRAM - 2}),
           i -> {parts})) AS s
  FROM documents WHERE {src_filter}
"""


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH bench AS (
  SELECT DISTINCT s FROM ({_decon_shingle_sql(f"doc_id < {BENCH_MAX_DOC}")})
),
corpus AS ({_decon_shingle_sql(f"doc_id >= {BENCH_MAX_DOC}")})
SELECT c.doc_id, COUNT(*) AS n_overlapping_ngrams
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Pile discipline): flag corpus
    documents sharing any {n}-gram with the held-out eval set, with the
    overlap count as evidence.  The fixture's eval set is doc_id < 25;
    a real pipeline points the benchmark side at its eval corpora.

    Scale shape: the benchmark shingle set is BOUNDED (eval sets are
    thousands of documents regardless of corpus size), so it is the one
    legitimately force-broadcast side in the dedup family — corpus
    shingles stream map-side through the broadcast semi-probe and only
    flagged (doc_id, count) rows ever shuffle.  Removal is then an
    anti-join of the corpus against this flag table."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sh5 = _shingles(F.col("text"), DECON_NGRAM)
    bench = (
        d.where(F.col("doc_id") < BENCH_MAX_DOC)
        .select(F.explode(sh5).alias("s"))
        .distinct()
    )
    corpus = d.where(F.col("doc_id") >= BENCH_MAX_DOC).select(
        "doc_id", F.explode(sh5).alias("s")
    )
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlapping_ngrams"))
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH (the scale path), exact-verified
# ---------------------------------------------------------------------------

BAND_ROWS = 8  # r: signatures per band
N_BANDS = N_MINHASH // BAND_ROWS  # b = 2
MINHASH_VERIFY_T = 0.9

# Salt cells for the band-bucket self-joins (minhash + simhash): a hot
# bucket — every near-identical copy of one document lands in ONE
# (band, key) group — would otherwise put its whole B² pair product on
# a single reduce task.  Salting splits each bucket into S cells and
# gives every cell PAIR its own reduce key, bounding per-task work to
# (B/S)² at a ≲(S+1)/2-row replication cost (same discipline as
# join_salted_skew, applied to a self-join).
LSH_SALTS = 4


def salted_bucket_pairs(
    rows: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    n_salts: int = LSH_SALTS,
) -> DataFrame:
    """Self-join every bucket (equality on ``bucket_cols``) into its
    distinct-id pairs with hot-bucket salting.

    Each row gets a deterministic cell ``s = hash(id) mod S`` and is
    replicated into the cell-pair tasks it participates in: as the LEFT
    role of pairs ``(i=s, j)`` for ``j ≥ s`` and as the RIGHT role of
    pairs ``(i, j=s)`` for ``i ≤ s``.  The join key is
    ``(bucket, i, j)`` — each cell pair is an independent reduce key, so
    the shuffle spreads a B-row bucket over S(S+1)/2 tasks of ≤(B/S)²
    work.  Every unordered pair of DISTINCT ids appears at least once
    (same-cell pairs in both orders): callers emit
    ``least/greatest(id)`` and dedupe downstream, where the row set is
    smallest.  Salt comes from the id hash — deterministic, never
    rand(), so task retries are idempotent."""
    cell = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int")
    salted = rows.withColumn("__cell", cell)
    left = salted.withColumn(
        "__pair", F.explode(F.sequence(F.col("__cell"), F.lit(n_salts - 1)))
    )
    right = salted.withColumn(
        "__pair", F.explode(F.sequence(F.lit(0), F.col("__cell")))
    )
    a, b = left.alias("a"), right.alias("b")
    cond = (
        (F.col("a.__cell") == F.col("b.__pair"))
        & (F.col("a.__pair") == F.col("b.__cell"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return a.join(b, cond)


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """doc_id + the 16 MinHash signatures as ONE array<long> column.

    Shuffle-free AND single-pass: one fold over the distinct-token
    hashes accumulates all 16 permutation minima via zip_with against
    the literal (A, B) coefficient arrays — same integer arithmetic,
    bit-identical signatures.  (The earlier per-signature
    ``array_min(transform(...))`` formulation traversed the hash array
    16 times and compiled a 16×-sized codegen unit — the same
    per-query JIT tax the SimHash build paid before its one-pass
    rewrite.)  The explode+groupBy formulation moves |tokens| rows
    through an exchange to compute the same minima; this moves nothing
    (the signature build at 100 TB is scan-bound, not shuffle-bound)."""
    return documents.select(
        "doc_id", minhash_sig_expr(F.col("text")).alias("sigs")
    )


def minhash_sig_expr(text_col) -> F.Column:
    """The 16-signature array as ONE row-level expression (no shuffle,
    no state) — shared by the batch signature builder and the streaming
    ingest probe (streaming/ingest.py), so batch≡stream equivalence
    holds by construction."""
    return minhash_sig_expr_elems(F.array_distinct(tokens(text_col)))


def minhash_sig_expr_elems(elems) -> F.Column:
    """The same one-pass 16-permutation fold over an arbitrary DISTINCT
    string-element array — the plain row binds distinct tokens; the
    weighted row binds the tf-expanded elements (r15)."""
    hms = F.transform(elems, lambda t: md5_hash60_mod(t))
    a_lit = F.expr("array(" + ",".join(f"{a}L" for a in MINHASH_A) + ")")
    b_lit = F.expr("array(" + ",".join(f"{b}L" for b in MINHASH_B) + ")")
    idx = F.sequence(F.lit(0), F.lit(N_MINHASH - 1))
    # perm values live in [0, M); init at M so the fold's minimum over a
    # non-empty hash array equals the true minimum
    return F.aggregate(
        hms,
        F.array_repeat(F.lit(MERSENNE31).cast("long"), N_MINHASH),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda a, i: F.least(
                a, (F.get(a_lit, i) * h + F.get(b_lit, i)) % F.lit(MERSENNE31)
            ),
        ),
    )


def band_keys(sigs: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """One row per (doc, band): the band's r signatures concatenated as
    the LSH bucket key, with the full signature array riding along (so
    downstream joins can compute the agreement estimate inline)."""
    bands = None
    for bi in range(N_BANDS):
        key = F.array_join(
            F.transform(
                F.slice("sigs", bi * BAND_ROWS + 1, BAND_ROWS),
                lambda s: s.cast("string"),
            ),
            ",",
        )
        band = sigs.select(
            "doc_id", F.lit(bi).alias("band"), key.alias("key"), "sigs", *extra_cols
        )
        bands = band if bands is None else bands.unionAll(band)
    return bands


def sig_agreement_expr(a: str = "a.sigs", b: str = "b.sigs") -> F.Column:
    """Signature-agreement Jaccard estimate between two joined signature
    arrays — ONE definition shared by the LSH self-join, the incremental
    batch probe, and the streaming probe (a fix to this expression must
    propagate to all three or batch≡stream equivalence silently breaks)."""
    return (
        F.aggregate(
            F.zip_with(
                F.col(a), F.col(b), lambda x, y: F.when(x == y, 1).otherwise(0)
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / float(N_MINHASH)
    )


def first_matching_band_expr(a: str = "a.sigs", b: str = "b.sigs") -> F.Column:
    """0-based index of the FIRST band whose signature slices agree.

    Filtering a banded bucket join to ``band == first_matching_band``
    emits each candidate pair exactly ONCE even when it collides in
    several bands — a stateless row-level dedupe, so the streaming
    probe needs no dropDuplicates state and the batch probe no distinct
    shuffle."""
    band_eq = F.array(
        *[
            F.slice(F.col(a), bi * BAND_ROWS + 1, BAND_ROWS)
            == F.slice(F.col(b), bi * BAND_ROWS + 1, BAND_ROWS)
            for bi in range(N_BANDS)
        ]
    )
    return (F.array_position(band_eq, F.lit(True)) - 1).cast("int")


def lsh_candidate_pairs(sigs: DataFrame, distinct: bool = True) -> DataFrame:
    """(a_id, b_id, est) candidate pairs sharing ≥1 full band, with the
    signature-agreement Jaccard estimate computed INLINE.

    ``distinct=False`` skips the pre-verify dedupe: a pair matching k
    bands appears ~k times and callers dedupe AFTER their verify
    filter, when the row set is smallest — on a duplicate-heavy corpus
    the post-filter set is far smaller than the candidate set, so this
    trades one full-width candidate shuffle for a little repeated
    map-side verify work (the simhash pipeline's discipline).

    Band key = the band's r signatures concatenated; the self-join on
    (band_idx, key) is the LSH bucket join — each bucket only compares
    within itself, never across, which is the whole point at 100 TB.
    The full 16-signature row rides both sides of the join, so the
    estimate needs no join back to the signature table (two fewer
    shuffles than cand→sigs×2).  The bucket self-join runs through
    :func:`salted_bucket_pairs` — a hot band bucket (every
    near-identical copy of a viral document) spreads over cell-pair
    tasks instead of one straggler reducer.  A pair matching both bands
    (or meeting in both orders within a salt cell) yields identical
    rows, deduped by the final distinct on the already-small candidate
    set."""
    bands = band_keys(sigs)
    est = sig_agreement_expr()
    cand = salted_bucket_pairs(bands, ["band", "key"]).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("a_id"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("b_id"),
        est.alias("est"),
    )
    return cand.distinct() if distinct else cand


def _minhash_oracle() -> str:
    sig_exprs = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * hm + {MINHASH_B[i]}) % {MERSENNE31}) AS s{i}"
        for i in range(N_MINHASH)
    )
    band_conds = []
    for bi in range(N_BANDS):
        eqs = " AND ".join(
            f"a.s{i} = b.s{i}"
            for i in range(bi * BAND_ROWS, (bi + 1) * BAND_ROWS)
        )
        band_conds.append(f"({eqs})")
    est = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hm AS (SELECT doc_id, {duckdb_hash60_mod('tok')} AS hm FROM toks),
sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hm GROUP BY doc_id
),
cand AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         ({est}) / {float(N_MINHASH)} AS est
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {' OR '.join(band_conds)}
),
c AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT cd.a_id, cd.b_id, COUNT(*) AS i
  FROM cand cd
  JOIN toks x ON x.doc_id = cd.a_id
  JOIN toks y ON y.doc_id = cd.b_id AND y.tok = x.tok
  GROUP BY cd.a_id, cd.b_id
)
SELECT cd.a_id, cd.b_id,
       ROUND(cd.est, {R}) AS est_jaccard,
       ROUND(i.i::DOUBLE / (ca.n + cb.n - i.i), {R}) AS jaccard
FROM cand cd
JOIN inter i ON i.a_id = cd.a_id AND i.b_id = cd.b_id
JOIN c ca ON cd.a_id = ca.doc_id
JOIN c cb ON cd.b_id = cb.doc_id
WHERE ROUND(i.i::DOUBLE / (ca.n + cb.n - i.i), {R}) >= {MINHASH_VERIFY_T}
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup, exact-verified.

    Pipeline: distinct tokens → 16 deterministic MinHash signatures →
    2 bands × 8 rows → bucket self-join for candidates → exact Jaccard
    verification on candidates only → pairs ≥ 0.9.

    This is the canonical 100 TB dedup: candidate generation never
    compares documents that share no band bucket, and verification
    touches only candidates.  Recall is the LSH s-curve
    (1 - (1 - j^8)^2 at threshold j) — tested against the exact n-gram
    operator in tests/test_dedup.py.

    Physical shape: ``sigs`` is persisted (it feeds both sides of the
    band self-join — without the persist Spark recomputes the token
    explode + 16-way min-agg twice); the signatures ride the band join
    so the estimate is computed inline (no join back to ``sigs``); the
    exact verify is an ``array_intersect`` on per-doc token ARRAYS
    joined onto the (few) candidates by doc_id, instead of re-shuffling
    the exploded token table.  No broadcast hints on the corpus-sized
    token tables — the candidate side is the small one, and AQE picks
    the build side at runtime (a forced broadcast of the big side would
    be the 100 TB failure mode).  The only big shuffle left is the
    signature build."""
    d = spread(load_table(spark, sf_dir, "documents"))
    tok_arrays = d.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks")
    ).transform(scratch_persist)  # read twice (a-side and b-side of the verify)
    sigs = minhash_signatures(d).transform(scratch_persist)
    # distinct=False: dedupe AFTER the verify filter (smallest row set)
    # instead of shuffling the full multi-band candidate stream first.
    cand_est = lsh_candidate_pairs(sigs, distinct=False)

    ta = tok_arrays.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("ta"))
    tb = tok_arrays.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("tb"))
    verified = (
        cand_est.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn("i", F.size(F.array_intersect("ta", "tb")))
        .withColumn("na", F.size("ta"))
        .withColumn("nb", F.size("tb"))
    )
    jac = F.round(
        F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), R
    )
    return (
        verified.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= MINHASH_VERIFY_T)
        .select("a_id", "b_id", F.round("est", R).alias("est_jaccard"), "jaccard")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60
HAMMING_T = 8


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per doc: per-bit ±1 votes over distinct-token
    hashes, bit set where the vote is non-negative.

    Shuffle-free: the hashes stay an ARRAY inside the row; bit b's
    vote is non-negative iff set-bit count ×2 ≥ token count, so each
    bit is a ``size(filter(...))`` over the array — the whole
    fingerprint is one map-side projection (the explode+groupBy
    formulation pushed |tokens| rows through an exchange to build
    60 conditional sums)."""
    documents = spread(documents)
    hs = F.transform(F.array_distinct(tokens(F.col("text"))), lambda t: md5_hash60(t))
    doc = documents.select("doc_id", hs.alias("hs"))
    n = F.size("hs")

    # ONE pass over the hash array building all 60 bit-counts at once
    # (fold of zip_with over a per-token bit vector), then one fold
    # over the counts to place the bits.  The per-bit
    # ``size(filter(...))`` formulation traversed the array 60 times
    # and compiled a 60×-sized codegen unit (~10 s of per-query JIT at
    # bench time); this tree is ~60× smaller with identical votes:
    # bit b set iff ones_b · 2 ≥ n.
    bits_idx = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    counts = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            bits_idx,
            lambda a, b: a
            + F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)).cast("int"),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counts,
            bits_idx,
            lambda c, b: F.when(
                c * 2 >= n,
                F.call_function("shiftleft", F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return doc.select("doc_id", sim.cast("long").alias("simhash"))


def _simhash_sql_core() -> str:
    vote_cols = ", ".join(
        f"SUM(CASE WHEN ((hv >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN b{b} >= 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (SELECT doc_id, {duckdb_hex15_to_bigint("md5(tok)")} AS hv FROM toks),
votes AS (SELECT doc_id, {vote_cols} FROM h GROUP BY doc_id),
sim AS (SELECT doc_id, ({combine}) AS simhash FROM votes)
"""


@register(
    "dedup_simhash_signatures",
    oracle=f"WITH {_simhash_sql_core()} SELECT doc_id, simhash FROM sim",
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


def _simhash_chunk_bounds() -> list[tuple[int, int]]:
    """(start_bit, width) for the h+1 pigeonhole chunks of the
    fingerprint.  60 bits / 9 chunks → six 7-bit + three 6-bit chunks;
    any two fingerprints within Hamming ≤ 8 agree exactly on at least
    one chunk, so the chunk equi-join has perfect recall."""
    n_chunks = HAMMING_T + 1
    base, extra = divmod(SIMHASH_BITS, n_chunks)
    bounds, start = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < extra else 0)
        bounds.append((start, width))
        start += width
    return bounds


def simhash_candidate_pairs(sim: DataFrame) -> DataFrame:
    """Candidate (a_id, ha, b_id, hb) pairs agreeing on ≥1 pigeonhole
    chunk (NOT distinct — a pair agreeing on k chunks appears k times;
    callers dedupe after their verify filter, when the row set is
    smallest).

    Each doc emits h+1 = 9 (chunk_idx, chunk_val) rows via one inline
    explode (map-side, no shuffle); the self-equi-join on
    (chunk_idx, chunk_val) is a bucket join — only fingerprints that
    collide in a chunk are ever paired, never all pairs.  This is the
    Manku/Jain/Sarma web-dedup decomposition: candidate volume is the
    bucket collision mass, not O(n²).  The full fingerprint rides along
    both sides so the Hamming verify needs no join back to the
    signature table.  The bucket self-join runs through
    :func:`salted_bucket_pairs`, so a hot chunk bucket spreads over
    cell-pair tasks instead of one straggler reducer."""
    chunk_vals = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright("simhash", start)
                .bitwiseAND(F.lit((1 << width) - 1))
                .cast("int")
                .alias("val"),
            )
            for i, (start, width) in enumerate(_simhash_chunk_bounds())
        ]
    )
    chunks = sim.select("doc_id", "simhash", F.explode(chunk_vals).alias("c")).select(
        "doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val")
    )
    lo = F.col("a.doc_id") < F.col("b.doc_id")
    return salted_bucket_pairs(chunks, ["chunk", "val"]).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("a_id"),
        F.when(lo, F.col("a.simhash")).otherwise(F.col("b.simhash")).alias("ha"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("b_id"),
        F.when(lo, F.col("b.simhash")).otherwise(F.col("a.simhash")).alias("hb"),
    )


@register(
    "dedup_simhash_pairs",
    oracle=f"""
WITH {_simhash_sql_core()}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_T}
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 8 of 60 bits).

    Banded candidate generation (pigeonhole chunks, see
    :func:`simhash_candidate_pairs`) followed by the exact
    ``bit_count(xor)`` verify — identical output to the all-pairs
    comparison (banding has perfect recall at Hamming ≤ h) with
    candidate volume bounded by chunk-bucket collisions instead of
    O(n²).  Fingerprints ride the candidate rows, so verify is a pure
    map-side filter; the final distinct runs on the post-filter rows,
    the smallest set in the pipeline."""
    # Persisted: both sides of the chunk self-join read the signature
    # table — unpersisted it is computed twice.
    sim = simhash_signatures(load_table(spark, sf_dir, "documents")).transform(scratch_persist)
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        simhash_candidate_pairs(sim)
        .where(ham <= HAMMING_T)
        .select("a_id", "b_id", ham.cast("int").alias("hamming"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding-space near-dup
# ---------------------------------------------------------------------------

EMB_NEARDUP_T = 0.45


def dedup_embedding_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT all pairs above threshold,
    via the block-partitioned GEMM kernel — the ground-truth generator
    the LSH recall tests compare against (tests/test_dedup.py).  Not the
    registered driver query: the driver-facing ``dedup_embedding_cosine``
    is the composed candidates→verify pipeline below; this O(n²) form is
    the verify/ground-truth kernel."""
    from .similarity_join import gemm_cosine_pairs

    return gemm_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), EMB_NEARDUP_T, inclusive=True
    )


def _embedding_lsh_oracle() -> str:
    """DuckDB mirror of ``dedup_embedding_lsh``: the same seeded SRP
    planes as literals, 20 bucket expressions, bucket-collision
    candidates, exact rounded-cosine verify."""
    from ..functions.train import sql_floats
    from .ann import SRP_BITS, SRP_TABLES, srp_planes

    planes = srp_planes()

    def bucket_sql(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
            f"{sql_floats(planes[t * SRP_BITS + j])}::DOUBLE[]) >= 0 "
            f"THEN {2**j} ELSE 0 END)"
            for j in range(SRP_BITS)
        )

    bucket_cols = ",\n         ".join(
        f"({bucket_sql(t)}) AS b{t}" for t in range(SRP_TABLES)
    )
    expl = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS bk FROM b" for t in range(SRP_TABLES)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {bucket_cols}
  FROM embeddings
),
expl AS (
  {expl}
),
cand AS (
  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
  FROM expl x JOIN expl y
    ON x.t = y.t AND x.bk = y.bk AND x.vec_id < y.vec_id
)
SELECT c.a_id, c.b_id,
       ROUND(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]),
             {R}) AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a_id
JOIN embeddings eb ON eb.vec_id = c.b_id
WHERE ROUND(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]),
            {R}) >= {EMB_NEARDUP_T}
"""


def _srp_candidate_pairs(emb: DataFrame, distinct: bool = True) -> DataFrame:
    """SRP bucket-collision candidate pairs (a_id < b_id), ids only.

    Reads the materialized bucket int columns of the SRP index: the
    stored bucket ids explode to (table, bucket) rows carrying ONLY the
    id — never the vector, so the candidate shuffle is L×8-byte keys
    per doc, not L×vectors — and the self-equi-join on (table, bucket)
    emits only bucket-colliding pairs.  ``distinct=False`` skips the
    pre-verify dedupe (a pair colliding in k tables appears k times):
    callers dedupe after their verify filter, when the row set is
    smallest — the same post-filter discipline as the minhash/simhash
    band joins."""
    from .ann import SRP_TABLES

    buckets = emb.select(
        "vec_id",
        F.posexplode(F.array(*[f"b{t}" for t in range(SRP_TABLES)])).alias("t", "bk"),
    )
    # Pin the bucket-join shuffle to the configured width: the join's
    # CPU cost is quadratic in bucket occupancy while its shuffled BYTES
    # are tiny (ids + two ints), so AQE's byte-based coalescing collapses
    # it to one partition and serializes the pair expansion.  An explicit
    # numPartitions is exempt from coalescing; hot-bucket skew is bounded
    # by the band-bit count, not AQE (LSH's own knob).
    n_shuffle = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    buckets = buckets.repartition(n_shuffle, "t", "bk")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
    )
    return cand.distinct() if distinct else cand


def _embedding_lsh_lazy(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(lazy result, persisted index handle) — HOF-cosine verify.
    Split from the registered query so plan tests can inspect the
    un-checkpointed plan."""
    from .ann import load_or_build_srp_index
    from ..functions.vector import dot, l2_norm

    emb = load_or_build_srp_index(spark, sf_dir).transform(scratch_persist)
    # distinct BEFORE verify here (unlike the band joins): with L=20
    # tables a near-dup pair collides in most of them, so the raw
    # stream carries ~10-20× multiplicity — deduping the id-only pairs
    # first is measured 2-3× faster than verifying duplicates
    cand = _srp_candidate_pairs(emb)
    # Norms are computed once per ROW before the join (n traversals),
    # not twice per candidate PAIR after it (2·|cand| traversals) — the
    # per-pair expression is then the single dot-product traversal.
    ea = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    cos = dot("va", "vb") / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
    lazy = (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .withColumn("cos_sim", F.round(cos, R))
        .where(F.col("cos_sim") >= EMB_NEARDUP_T)
        .select("a_id", "b_id", "cos_sim")
    )
    return lazy, emb


@register("dedup_embedding_lsh", oracle=_embedding_lsh_oracle)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-LSH candidates — the
    sub-quadratic 100 TB semantic dedup.

    Candidate generation reads the SAME materialized SRP index as
    ``ann_lsh_topk`` (``ann.load_or_build_srp_index`` — the plane dot
    products run once per corpus at index build, never per query); see
    :func:`_srp_candidate_pairs` for the id-only shuffle argument.
    Verify: candidates join back to the embeddings by id (AQE picks the
    build side) and the exact rounded HOF cosine filters the threshold.
    Recall vs the exact GEMM operator is the SRP collision curve
    (asserted ≥ 0.9 in tests/test_dedup.py); the oracle mirrors the
    identical plane literals, so the approximate result itself is
    value-hash-checked.

    Candidate volume note: the synthetic fixture's embeddings are
    isotropic, so bucket occupancy is uniform and collisions are
    ~n²·L/2^b — the fixture is LSH's worst case.  On real clustered
    embeddings (the production case) near-threshold mass concentrates
    in few buckets and the candidate set is orders of magnitude below
    n²; the plan shape (id-only candidate shuffle, verify by id-join)
    is what survives the scale-up.
    """
    lazy, emb = _embedding_lsh_lazy(spark, sf_dir)
    # Materialize the bounded pair set, then release the 3×-read index
    # cache so it doesn't accumulate across queries in a long session
    # (persist→materialize→unpersist, as in connected_components).
    out = lazy.localCheckpoint(eager=True)
    emb.unpersist()
    return out


def _embedding_cosine_lazy(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(lazy result, persisted index handle) — Arrow/numpy kernel verify."""
    from .ann import load_or_build_srp_index
    from .similarity_join import pairwise_cosine_verify

    emb = load_or_build_srp_index(spark, sf_dir).transform(scratch_persist)
    cand = _srp_candidate_pairs(emb)
    lazy = pairwise_cosine_verify(
        cand,
        emb.select("vec_id", "embedding"),
        EMB_NEARDUP_T,
        inclusive=True,
        decimals=R,
    )
    return lazy, emb


@register("dedup_embedding_cosine", oracle=_embedding_lsh_oracle)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: SRP candidates → vectorized
    batch-kernel verify — the composed candidates→verify pipeline
    (VERDICT r2 #3).

    Same id-only SRP candidate generation as :func:`dedup_embedding_lsh`
    (same recall curve, same oracle); the verify stage scores candidate
    blocks with one numpy row-wise dot per Arrow batch
    (:func:`..similarity_join.pairwise_cosine_verify`) instead of the
    per-pair HOF expression — the dense-algebra kernel wins once
    candidate volume is large, which is exactly the 100 TB regime.  The
    exact all-pairs GEMM operator remains registered separately as
    ``similarity_join_threshold`` — positioned as the bounded verify /
    small-side kernel, not the corpus-scale pair generator.
    """
    lazy, emb = _embedding_cosine_lazy(spark, sf_dir)
    out = lazy.localCheckpoint(eager=True)
    emb.unpersist()
    # The verify kernel's vector broadcast is no longer referenced by the
    # checkpointed plan — free it so repeated calls don't accumulate.
    from .similarity_join import release_pending_broadcasts

    release_pending_broadcasts()
    return out


# Incremental dedup: the new batch is the top ~20% of the doc-id range
# (a deterministic stand-in for "today's crawl"); everything below is
# the already-deduplicated corpus.
INCR_NEW_FRACTION = 0.8  # cut = 0.8 · max(doc_id)


@register(
    "dedup_incremental_exact",
    oracle="""
WITH fps AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           AS fp
  FROM documents
),
cut AS (SELECT CAST(FLOOR(0.8 * MAX(doc_id)) AS BIGINT) AS c FROM documents),
old AS (
  SELECT fp, MIN(doc_id) AS dup_of
  FROM fps, cut WHERE doc_id < c GROUP BY fp
),
new_batch AS (SELECT doc_id, fp FROM fps, cut WHERE doc_id >= c)
SELECT n.doc_id AS new_doc, o.dup_of, n.fp
FROM new_batch n JOIN old o USING (fp)
""",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: new-batch documents whose bag
    fingerprint already exists in the corpus, WITHOUT re-deduplicating
    the corpus — the shape every rolling ingest runs (today's crawl vs
    the accumulated store).

    The corpus side reduces to one fingerprint aggregate (min doc id
    per bag-fp — O(distinct fps) shuffle, map-side combined); the new
    batch is the small side by construction, so AQE broadcasts it and
    the corpus is never re-shuffled by the join.  At 100 TB the corpus
    fingerprint table is the persisted artifact this operator reads
    instead of recomputing (same build-once discipline as the ANN
    indexes); recomputing it here keeps the registered query
    self-contained.
    """
    d = load_table(spark, sf_dir, "documents")
    # Explicit floor on BOTH sides (Spark here, FLOOR in the oracle SQL):
    # a bare cast-to-long truncates in Spark but rounds in DuckDB, so the
    # new/old boundary would diverge whenever the fraction is >= 0.5.
    cut = d.agg(
        F.floor(F.lit(INCR_NEW_FRACTION) * F.max("doc_id")).cast("long").alias("c")
    )
    fps_cut = doc_fingerprints(d).crossJoin(F.broadcast(cut))
    old = corpus_fingerprints(fps_cut.where(F.col("doc_id") < F.col("c")))
    new_batch = fps_cut.where(F.col("doc_id") >= F.col("c"))
    return probe_new_batch(new_batch, old)


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) bag fingerprints over ANY (doc_id, text) frame —
    the shared map-side expression of the batch and streaming
    incremental-dedup paths."""
    from ..functions.text import bag_signature

    return docs.select(
        "doc_id", F.md5(bag_signature(F.col("text"))).alias("fp")
    )


def corpus_fingerprints(fps: DataFrame) -> DataFrame:
    """The corpus reduced to one row per distinct fingerprint
    (min doc_id = the canonical survivor).  This aggregate is the ONLY
    thing the rolling-ingest probe ever touches — at 100 TB it is a
    persisted artifact, incrementally unioned, never a corpus rescan."""
    return fps.groupBy("fp").agg(F.min("doc_id").alias("dup_of"))


def probe_new_batch(new_fps: DataFrame, corpus_fps: DataFrame) -> DataFrame:
    """New-batch rows whose fingerprint already exists in the corpus.
    The new batch is the small side by construction, so AQE broadcasts
    it and the corpus aggregate is never re-shuffled by the join.  Used
    identically by the batch query above and the foreachBatch streaming
    variant (streaming/ingest.incremental_dedup_stream)."""
    new_batch = new_fps.select(F.col("doc_id").alias("new_doc"), "fp")
    return new_batch.join(corpus_fps, "fp").select("new_doc", "dup_of", "fp")


CONTAIN_T = 0.75

_CONTAIN_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(string_split(text, ' ')) - {NGRAM - 2}),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2])) AS s
  FROM documents
),
c AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       ROUND(i::DOUBLE / LEAST(ca.n, cb.n), {R}) AS containment
FROM inter
JOIN c ca ON a_id = ca.doc_id
JOIN c cb ON b_id = cb.doc_id
WHERE ROUND(i::DOUBLE / LEAST(ca.n, cb.n), {R}) >= {CONTAIN_T}
"""


@register("dedup_ngram_containment", oracle=_CONTAIN_ORACLE)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: n-gram containment ``i / min(|A|, |B|)`` —
    the Broder resemblance/containment split (public 1997 paper).
    Jaccard under-scores a short document fully quoted inside a long
    one (the union is dominated by the long doc); containment scores
    that pair ~1.0, which is exactly the quote/subset duplication a
    pretraining dedup pass must catch.

    Identical physical shape to ``dedup_ngram_jaccard`` (shingle
    equi-join with per-row size piggybacking — no size-table join, no
    all-pairs), so the scale argument carries over verbatim; only the
    final score expression differs."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sh_arrays = d.select("doc_id", _shingles(F.col("text")).alias("sh"))
    sh = sh_arrays.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    cont = F.round(
        F.col("i").cast("double") / F.least(F.col("na"), F.col("nb")), R
    )
    return (
        inter.withColumn("containment", cont)
        .where(F.col("containment") >= CONTAIN_T)
        .select("a_id", "b_id", "containment")
    )


@register("dedup_jaccard_prefix_filter", oracle=_NGRAM_ORACLE)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME n-gram Jaccard pairs as ``dedup_ngram_jaccard``, found
    with PREFIX FILTERING (PPJoin/All-Pairs family — Bayardo et al.
    2007, Xiao et al. 2008, public): for Jaccard ≥ t, two documents
    MUST share at least one shingle among the first
    ``p = n - ceil(t·n) + 1`` shingles of each, under any one global
    shingle order — so the candidate join indexes only each document's
    p-prefix instead of all n shingles.

    Ordering shingles by ascending document frequency puts the RAREST
    shingles in the prefix, which is what makes the candidate set
    small: common shingles (the fan-out risk of the full join) never
    generate candidates.  At t=0.5 the prefix halves the exploded
    index; at the t=0.8-0.9 a production near-dup pass uses, it drops
    to ~a tenth — the standard set-similarity-join scale lever.

    FIXTURE-SCALE CAVEAT: at bench SF this query costs ~3x the plain
    n-gram join, because the persisted shingle table is consumed three
    times (prefix build, both verify sides) and that fixed cost
    dominates while the corpus is tiny.  The
    asymptotic win — prefix candidates growing like the RARE-shingle
    collision count instead of the full posting-list fan-out — only
    overtakes above fixture scale and at production thresholds
    (t ≥ 0.8), which is exactly when the full join stops being
    runnable at all.

    Stages: one exploded pass computing document frequencies as a
    count window over the shingle partition and re-sorting each doc's
    shingles by (df, shingle), the PREFIX equi-join for candidates,
    then exact verification on the full shingle arrays (array_intersect
    of the two distinct arrays — same i/(na+nb-i) arithmetic).  The
    ORACLE is the full-join formulation verbatim: two different
    algorithms must produce the identical pair set, which is also
    asserted directly against ``dedup_ngram_jaccard`` in
    tests/test_dedup.py."""
    from pyspark.sql import Window as W

    d = spread(load_table(spark, sf_dir, "documents"))
    # persisted: referenced THREE times (prefix build, both sides of the
    # exact verify) — without it the tokenize+shingle pass re-runs per
    # consumer.  (r17, guide §2.4: document frequencies used to be a
    # separate groupBy consumed back via an equi-join — a fourth scan of
    # this subtree plus an extra exchange; a count window over the same
    # exploded pass yields the identical df per (doc, shingle) row with
    # one scan and one shuffle by s.)
    sh_arrays = (
        d.select("doc_id", _shingles(F.col("text")).alias("sh"))
        .where(F.size("sh") > 0)
        .transform(scratch_persist)
    )
    # one explode pass: document frequency of every (distinct-per-doc)
    # shingle via a partition count window — same value the old
    # groupBy("s").count() + join("s") produced for every row.  Skew: a
    # boilerplate shingle's whole window partition lands on one task,
    # where the join form had AQE skew-join splitting; acceptable at
    # bench scale.
    exploded = sh_arrays.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")
    ).withColumn("df", F.count(F.lit(1)).over(W.partitionBy("s")))
    per_doc = exploded.groupBy("doc_id").agg(
        F.first("n").alias("n"),
        F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ordered"),
    )
    # exact integer ceil(t*n) = (t_num*n + t_den - 1) div t_den — no
    # double arithmetic, so the PPJoin bound holds for any rational t
    p = (
        F.col("n")
        - F.expr(
            f"(({JACCARD_T_NUM} * n + {JACCARD_T_DEN} - 1) "
            f"div {JACCARD_T_DEN})"
        ).cast("int")
        + 1
    )
    prefix = per_doc.select(
        "doc_id",
        F.explode(
            F.slice(F.transform(F.col("ordered"), lambda x: x["s"]), 1, p)
        ).alias("s"),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    # exact verification on the full arrays
    A = sh_arrays.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sha"))
    B = sh_arrays.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("shb"))
    verified = (
        cand.join(A, "a_id")
        .join(B, "b_id")
        .withColumn("i", F.size(F.array_intersect("sha", "shb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.size("sha") + F.size("shb") - F.col("i")),
                R,
            ),
        )
        .where(F.col("jaccard") >= JACCARD_T)
    )
    return verified.select("a_id", "b_id", "jaccard")


def _inc_minhash_oracle() -> str:
    sig_exprs = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * hm + {MINHASH_B[i]}) % {MERSENNE31}) AS s{i}"
        for i in range(N_MINHASH)
    )
    band_conds = " OR ".join(
        "("
        + " AND ".join(
            f"a.s{i} = b.s{i}"
            for i in range(bi * BAND_ROWS, (bi + 1) * BAND_ROWS)
        )
        + ")"
        for bi in range(N_BANDS)
    )
    est = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hm AS (SELECT doc_id, {duckdb_hash60_mod('tok')} AS hm FROM toks),
sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hm GROUP BY doc_id
),
cut AS (SELECT CAST(FLOOR(0.8 * MAX(doc_id)) AS BIGINT) AS c FROM documents),
cand AS (
  SELECT DISTINCT a.doc_id AS corpus_doc, b.doc_id AS new_doc,
         ({est}) / {float(N_MINHASH)} AS est
  FROM sigs a, sigs b, cut
  WHERE a.doc_id < c AND b.doc_id >= c AND ({band_conds})
),
tc AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
inter AS (
  SELECT cd.corpus_doc, cd.new_doc, COUNT(*) AS i
  FROM cand cd
  JOIN toks x ON x.doc_id = cd.corpus_doc
  JOIN toks y ON y.doc_id = cd.new_doc AND y.tok = x.tok
  GROUP BY cd.corpus_doc, cd.new_doc
)
SELECT cd.new_doc, cd.corpus_doc,
       ROUND(cd.est, {R}) AS est_jaccard,
       ROUND(i.i::DOUBLE / (ca.n + cb.n - i.i), {R}) AS jaccard
FROM cand cd
JOIN inter i ON i.corpus_doc = cd.corpus_doc AND i.new_doc = cd.new_doc
JOIN tc ca ON cd.corpus_doc = ca.doc_id
JOIN tc cb ON cd.new_doc = cb.doc_id
WHERE ROUND(i.i::DOUBLE / (ca.n + cb.n - i.i), {R}) >= {MINHASH_VERIFY_T}
"""


@register("dedup_incremental_minhash", oracle=_inc_minhash_oracle)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup: today's batch against the accumulated
    corpus signature store, without re-comparing the corpus to itself —
    `dedup_incremental_exact`'s sibling for the MinHash-LSH family (a
    rolling crawl dedups each increment against the store, then appends
    the survivors' signatures).

    The corpus side reduces to its banded signature table — in
    production that table IS the store, persisted once per increment
    and only APPENDED to (the signature build never re-runs for old
    docs; here it is derived in-query the way `dedup_incremental_exact`
    derives the corpus fingerprints).  The batch side is small by
    construction, so AQE broadcasts its banded keys and THE CORPUS IS
    NEVER SHUFFLED — candidate generation is a map-side bucket probe of
    the store, verification touches only matched (corpus, new) pairs.
    A hot store bucket fans out at most |batch ∩ bucket| ways, bounded
    by the increment size; the self-join salting machinery
    (`salted_bucket_pairs`) is not needed on a store-vs-batch probe.

    Same split convention as the exact sibling: corpus = doc_id below
    floor(0.8·max), batch = the rest.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    cut = d.agg(F.floor(0.8 * F.max("doc_id")).cast("long").alias("c"))
    tok_arrays = d.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks")
    ).transform(scratch_persist)  # verify reads both sides by doc_id
    # persisted: the signature build feeds BOTH split branches — without
    # it the tokenize + md5 + 16-permutation fold scans the corpus twice
    bands = (
        band_keys(minhash_signatures(d)).crossJoin(F.broadcast(cut)).transform(scratch_persist)
    )
    store = bands.where(F.col("doc_id") < F.col("c"))
    batch = bands.where(F.col("doc_id") >= F.col("c"))
    cand = (
        store.alias("a")
        .join(
            batch.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        # first-match early exit replaces a distinct(): one row per pair,
        # stateless — the same filter the streaming probe uses
        .where(F.col("a.band") == first_matching_band_expr())
        .select(
            F.col("a.doc_id").alias("corpus_doc"),
            F.col("b.doc_id").alias("new_doc"),
            sig_agreement_expr().alias("est"),
        )
    )
    A = tok_arrays.select(F.col("doc_id").alias("corpus_doc"), F.col("toks").alias("ta"))
    B = tok_arrays.select(F.col("doc_id").alias("new_doc"), F.col("toks").alias("tb"))
    i_ = F.size(F.array_intersect("ta", "tb"))
    jac = F.round(i_.cast("double") / (F.size("ta") + F.size("tb") - i_), R)
    return (
        cand.join(A, "corpus_doc")
        .join(B, "new_doc")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= MINHASH_VERIFY_T)
        .select(
            "new_doc",
            "corpus_doc",
            F.round(F.col("est"), R).alias("est_jaccard"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# dedup_substring_spans — repeated-SUBSTRING detection (the span-removal
# form of dedup, Lee et al. 2021 "Deduplicating Training Data Makes
# Language Models Better", public): instead of dropping whole near-
# duplicate documents, find every k-token span that also occurs in
# ANOTHER document and merge overlapping hits into maximal regions —
# the unit a training pipeline actually cuts out.  The paper builds a
# suffix array; the distributed re-expression is exact k-gram matching
# (every length->=k shared substring contains a shared k-gram, so gram
# coverage == suffix-array coverage up to the k-1 token fringe).
# ---------------------------------------------------------------------------

SPAN_K = 8  # span gram width (the paper uses 50 BPE tokens; fixture docs are short)


def doc_grams(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, s, gram): every k-token window of every doc, built with
    WINDOW LEADs over the exploded tokens (JVM codegen'd; the
    HOF-transform alternative is interpreted per element — the exact
    trap the 100x tier caught in SemDeDup).  One shuffle on doc_id."""
    from pyspark.sql import Window as W

    tok = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = W.partitionBy("doc_id").orderBy("pos")
    gram_col = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", i).over(w) for i in range(1, k)]
    )
    return (
        tok.withColumn("gram", gram_col)
        .withColumn("last_tok", F.lead("tok", k - 1).over(w))
        .where(F.col("last_tok").isNotNull())
        .select("doc_id", (F.col("pos") + 1).alias("s"), "gram")
    )


def merged_span_stats(spans: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, s, e) spans into maximal
    regions, aggregated per doc — a window over only the MATCHED spans.
    All integer outputs — exact hash parity."""
    from pyspark.sql import Window as W

    w_ord = W.partitionBy("doc_id").orderBy("s")
    prev_max = F.max("e").over(w_ord.rowsBetween(W.unboundedPreceding, -1))
    isl = spans.withColumn(
        "new_isl",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "isl_id", F.sum("new_isl").over(w_ord.rowsBetween(W.unboundedPreceding, 0))
    )
    regions = isl.groupBy("doc_id", "isl_id").agg(
        F.min("s").alias("rs"), F.max("e").alias("re"), F.count("*").alias("nspans")
    )
    return (
        regions.groupBy("doc_id")
        .agg(
            F.sum("nspans").cast("long").alias("n_dup_spans"),
            F.count("*").cast("long").alias("n_regions"),
            F.sum(F.col("re") - F.col("rs") + 1).cast("long").alias("covered_tokens"),
        )
        .orderBy("doc_id")
    )


def substring_span_stats(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Per-doc repeated-span statistics: (doc_id, n_dup_spans,
    n_regions, covered_tokens) for docs containing at least one k-token
    span shared with a DIFFERENT doc.  One shuffle on the gram for the
    cross-doc count (map-side combined), then the islands merge."""
    grams = doc_grams(docs, k)
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where("nd > 1")
        .select("gram")
    )
    spans = grams.join(dup, "gram").select(
        "doc_id", "s", (F.col("s") + k - 1).alias("e")
    )
    return merged_span_stats(spans)


SUBSTRING_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, u.i AS s, array_to_string(t[u.i:u.i+{SPAN_K}-1], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t)-{SPAN_K}+2)) AS u(i)
  WHERE len(t) >= {SPAN_K}
),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
spans AS (SELECT doc_id, s, s+{SPAN_K}-1 AS e FROM grams WHERE gram IN (SELECT gram FROM dup)),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM spans
),
isl2 AS (
  SELECT *, SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM isl
),
regions AS (
  SELECT doc_id, isl_id, MIN(s) AS rs, MAX(e) AS re, COUNT(*) AS nspans
  FROM isl2 GROUP BY doc_id, isl_id
)
SELECT doc_id,
       CAST(SUM(nspans) AS BIGINT) AS n_dup_spans,
       CAST(COUNT(*) AS BIGINT) AS n_regions,
       CAST(SUM(re-rs+1) AS BIGINT) AS covered_tokens
FROM regions GROUP BY doc_id ORDER BY doc_id
"""


@register("dedup_substring_spans", oracle=SUBSTRING_SPAN_ORACLE)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring span detection over the documents table:
    every 8-token span shared with another doc, merged into maximal
    regions per doc — whole-doc dedup's complement (a doc 5% copied
    from another survives MinHash but still leaks memorized spans into
    training).  Exact integer outputs (span count, merged-region count,
    covered token positions) hash-checked against the identical
    gaps-and-islands SQL."""
    return substring_span_stats(load_table(spark, sf_dir, "documents"))


def doc_gram_fingerprints(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """(doc_id, s, h): a 64-bit Rabin-Karp fingerprint per k-token
    window, built ENTIRELY map-side with ``mapInPandas`` — no token
    explode, no doc_id window, no gram string ever materialized.

    The exact form (``doc_grams``) pays two wide exchanges before any
    dup is found: the posexplode+window shuffles every TOKEN by doc_id
    to build gram strings, and the dup aggregate then shuffles every
    GRAM STRING (~60 B/row).  At the 100x tier (24M grams) those two
    constants are the whole runtime.  This form tokenizes inside the
    scan task, hashes each batch's DISTINCT tokens once with a
    SELF-CONTAINED keyed hash (stdlib ``hashlib.blake2b`` over the
    token's utf-8 bytes, 8-byte digest — environment-independent by
    construction, so heterogeneous pandas/numpy versions across
    workers cannot silently disagree; r14 advisor replaced
    ``pd.util.hash_array``, whose siphash is a pandas-internal
    implementation detail), and rolls positional 64-bit combines over
    each doc's token-hash array with numpy wraparound arithmetic —
    per-doc cost is ~k vectorized ops.  Downstream shuffles carry
    20 B/row instead of gram text.

    Collisions: two different grams sharing a fingerprint add a FALSE
    dup span with probability ~n²/2⁻⁶⁵ (n = corpus grams) — the
    standard Lee-et-al-scale trade (their suffix-array production
    pipeline likewise dedups on hashed grams); there are NO false
    negatives, so recall gates are unaffected.  The driver row
    certifies the trade honestly: the oracle is the EXACT string-gram
    SQL, so a green value-hash proves the fingerprint path reproduced
    exact results on the gate corpus."""
    import hashlib

    import numpy as np
    import pandas as pd

    M = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd multiplier
    KEY = b"spark-graft-span-fp-v1"  # fixed key: all workers agree

    def _hash_uniques(uniques) -> np.ndarray:
        """64-bit keyed blake2b per distinct token — O(vocab), not
        O(tokens), thanks to the factorize gather below."""
        return np.fromiter(
            (
                int.from_bytes(
                    hashlib.blake2b(
                        str(u).encode("utf-8"), digest_size=8, key=KEY
                    ).digest(),
                    "little",
                )
                for u in uniques
            ),
            dtype=np.uint64,
            count=len(uniques),
        )

    def gen(batches):
        for pdf in batches:
            ids_out: list = []
            s_out: list = []
            h_out: list = []
            tok_lists = [
                (int(i), (t or "").split(" "))
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            flat = [t for _, toks in tok_lists for t in toks]
            if not flat:
                continue
            # hash each DISTINCT token once, then gather: corpora have
            # small vocabularies relative to token count, so factorize
            # (a hash-table pass) + hashing only the uniques keeps the
            # per-token cost at a vectorized gather — and the result is
            # identical to hashing every occurrence, because the hash
            # is still of the token string itself
            codes, uniques = pd.factorize(
                np.asarray(flat, dtype=object), sort=False
            )
            th = _hash_uniques(uniques)[codes]
            off = 0
            for doc_id, toks in tok_lists:
                n = len(toks)
                if n >= k:
                    acc = th[off : off + n - k + 1].copy()
                    for j in range(1, k):
                        acc = acc * M + th[off + j : off + j + n - k + 1]
                    m = n - k + 1
                    ids_out.append(np.full(m, doc_id, dtype=np.int64))
                    s_out.append(np.arange(1, m + 1, dtype=np.int32))
                    h_out.append(acc.view(np.int64))
                off += n
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "s": np.concatenate(s_out),
                        "h": np.concatenate(h_out),
                    }
                )

    # spread() first: the generator is pure map-side CPU, so its
    # parallelism is the SCAN's split count (3 splits at the 100x tier
    # = 3 of 32 cores busy); wide production scans pass through
    return spread(docs.select("doc_id", "text")).mapInPandas(
        gen, "doc_id long, s int, h long"
    )


def substring_span_stats_fp(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Fingerprinted repeated-span statistics — same output contract as
    ``substring_span_stats``, one narrow shuffle instead of three wide
    ones: the map-side fingerprint stream is hashed ONCE by ``h``, a
    frame-less window computes the cross-doc flag (min(doc_id) ≠
    max(doc_id) — a single-pass exact rewrite of ``COUNT(DISTINCT
    doc_id) > 1``) without a second pass over the grams, and only the
    matched spans reach the islands merge.  At 100 TB the shuffle
    payload is 20 B/gram vs the exact form's tokenized text + gram
    strings — the difference between a re-shuffle of the corpus and a
    re-shuffle of fixed-width keys."""
    from pyspark.sql import Window as W

    g = doc_gram_fingerprints(docs, k)
    wh = W.partitionBy("h")
    spans = (
        g.withColumn(
            "xdoc", F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
        )
        .where(F.col("xdoc"))
        .select("doc_id", "s", (F.col("s") + k - 1).alias("e"))
    )
    return merged_span_stats(spans)


@register("dedup_substring_spans_fp", oracle=SUBSTRING_SPAN_ORACLE)
def q_dedup_substring_spans_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of ``dedup_substring_spans``: identical span
    statistics computed over 64-bit Rabin-Karp gram fingerprints (see
    ``doc_gram_fingerprints`` for the design and the collision trade).
    Registered against the SAME exact string-gram oracle — the green
    hash is the certificate that the fingerprint path reproduces the
    exact answer on the gate corpus, the honesty split the ANN family
    uses for its recall gates."""
    return substring_span_stats_fp(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# dedup_incremental_substring — the rolling-ingest form: which spans of
# TODAY's documents already exist in the accumulated corpus?  Completes
# the incremental family (exact, MinHash, and now span-level) for the
# span operator above.
# ---------------------------------------------------------------------------

INCR_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, u.i AS s, array_to_string(t[u.i:u.i+{SPAN_K}-1], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t)-{SPAN_K}+2)) AS u(i)
  WHERE len(t) >= {SPAN_K}
),
cut AS (SELECT CAST(FLOOR(0.8 * MAX(doc_id)) AS BIGINT) AS c FROM documents),
corpus AS (SELECT DISTINCT gram FROM grams, cut WHERE doc_id < c),
spans AS (
  SELECT g.doc_id, g.s, g.s+{SPAN_K}-1 AS e
  FROM grams g, cut
  WHERE g.doc_id >= c AND g.gram IN (SELECT gram FROM corpus)
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM spans
),
isl2 AS (
  SELECT *, SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
  FROM isl
),
regions AS (
  SELECT doc_id, isl_id, MIN(s) AS rs, MAX(e) AS re, COUNT(*) AS nspans
  FROM isl2 GROUP BY doc_id, isl_id
)
SELECT doc_id,
       CAST(SUM(nspans) AS BIGINT) AS n_dup_spans,
       CAST(COUNT(*) AS BIGINT) AS n_regions,
       CAST(SUM(re-rs+1) AS BIGINT) AS covered_tokens
FROM regions GROUP BY doc_id ORDER BY doc_id
"""


@register("dedup_incremental_substring", oracle=INCR_SPAN_ORACLE)
def q_dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span-level contamination check: the new batch's
    k-grams probe the corpus's DISTINCT-gram store (the persisted
    artifact of a rolling ingest — same build-once discipline as the
    corpus fingerprint table in ``dedup_incremental_exact``), matched
    spans merge into maximal regions per NEW doc.  Only old→new sharing
    counts — a gram two new docs share is their own batch's problem,
    handled by the batch operator.  The corpus side reduces to one
    distinct-gram aggregate; the new batch is the small join side by
    construction, so the store is never re-shuffled at probe time."""
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(
        F.floor(F.lit(INCR_NEW_FRACTION) * F.max("doc_id")).cast("long").alias("c")
    )
    grams = doc_grams(d).crossJoin(F.broadcast(cut))
    corpus = grams.where(F.col("doc_id") < F.col("c")).select("gram").distinct()
    new_grams = grams.where(F.col("doc_id") >= F.col("c"))
    spans = new_grams.join(corpus, "gram").select(
        "doc_id", "s", (F.col("s") + SPAN_K - 1).alias("e")
    )
    return merged_span_stats(spans)


# ---------------------------------------------------------------------------
# dedup_lines_crossdoc — LINE-level dedup (RefinedWeb §3.3 / Falcon,
# Penedo et al. 2023, public: drop lines that repeat across >= N
# documents — boilerplate headers, navigation, license blurbs — while
# keeping the documents themselves).  Complements the doc-level
# (minhash/simhash) and span-level (dedup_substring_spans) rows: the
# unit here is the LINE, counted by how many DISTINCT documents it
# appears in.  The synthetic corpus has no newlines, so a "line" is
# synthesized deterministically as each consecutive LINE_TOKENS-token
# window (both engines derive the identical segmentation).
# ---------------------------------------------------------------------------

LINE_TOKENS = 8
LINE_DUP_MIN_DOCS = 3  # a line in >= this many distinct docs is boilerplate


def doc_line_hashes(docs: DataFrame, width: int = LINE_TOKENS) -> DataFrame:
    """(doc_id, h, n_toks): a 64-bit fingerprint per synthesized line
    (consecutive ``width``-token non-overlapping windows, the last one
    ragged) plus the line's token count — the ``doc_gram_fingerprints``
    discipline applied to LINES (r15).  The line text never exists at
    all: tokens are blake2-hashed once per DISTINCT token (factorize +
    gather), each window's fingerprint is a positional uint64 fold of
    its token hashes (stride ``width``, so windows never overlap), and
    the window LENGTH is folded in last so a ragged tail can only
    collide with an equal-length window by hash accident.  Every
    downstream exchange carries a 20 B (doc_id, h, n_toks) row instead
    of ~60 B of line text — r15 profiling showed the interpreted
    slice+array_join+xxhash64 HOF construction was ~20 us/line and the
    whole super-linear constant of the 100x tier row (4.99x standalone
    at r14; even a single bare count over the HOF stream ran 72 s at
    500k docs).

    Collisions: two different lines sharing a fingerprint can only ADD
    a flag (false positive) with probability ~n²·2⁻⁶⁵ — the same
    Lee-et-al-scale trade the span fp form documents; there are NO
    false negatives, and the driver row's oracle remains the EXACT
    string-keyed SQL, so a green value-hash proves the fingerprint
    path reproduced exact results on the gate corpus."""
    import hashlib

    import numpy as np
    import pandas as pd

    M = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd multiplier
    KEY = b"spark-graft-line-fp-v1"  # fixed key: all workers agree

    def _hash_uniques(uniques) -> np.ndarray:
        return np.fromiter(
            (
                int.from_bytes(
                    hashlib.blake2b(
                        str(u).encode("utf-8"), digest_size=8, key=KEY
                    ).digest(),
                    "little",
                )
                for u in uniques
            ),
            dtype=np.uint64,
            count=len(uniques),
        )

    def gen(batches):
        for pdf in batches:
            ids_out: list = []
            h_out: list = []
            t_out: list = []
            tok_lists = [
                (int(i), (t or "").split(" "))
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            flat = [t for _, toks in tok_lists for t in toks]
            if not flat:
                continue
            codes, uniques = pd.factorize(
                np.asarray(flat, dtype=object), sort=False
            )
            th = _hash_uniques(uniques)[codes]
            off = 0
            for doc_id, toks in tok_lists:
                n = len(toks)
                nf = n // width  # full windows
                rem = n - nf * width  # ragged-tail token count
                m = nf + (1 if rem else 0)
                hs = np.empty(m, dtype=np.uint64)
                if nf:
                    arr = th[off : off + nf * width].reshape(nf, width)
                    acc = arr[:, 0].copy()
                    for j in range(1, width):
                        acc = acc * M + arr[:, j]
                    hs[:nf] = acc
                if rem:
                    tail = th[off + nf * width : off + n]
                    acc_t = tail[:1].copy()
                    for j in range(1, rem):
                        acc_t = acc_t * M + tail[j : j + 1]
                    hs[nf] = acc_t[0]
                lens = np.full(m, width, dtype=np.uint64)
                if rem:
                    lens[m - 1] = rem
                hs = hs * M + lens  # fold the window length in last
                ids_out.append(np.full(m, doc_id, dtype=np.int64))
                h_out.append(hs.view(np.int64))
                t_out.append(lens.astype(np.int32))
                off += n
            if ids_out:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids_out),
                        "h": np.concatenate(h_out),
                        "n_toks": np.concatenate(t_out),
                    }
                )

    # spread() first: pure map-side CPU whose parallelism is otherwise
    # the scan's split count (doc_gram_fingerprints discipline)
    return spread(docs.select("doc_id", "text")).mapInPandas(
        gen, "doc_id long, h long, n_toks int"
    )


def line_dedup_stats(docs: DataFrame, min_docs: int = LINE_DUP_MIN_DOCS) -> DataFrame:
    """Per-doc line-dedup report: total lines, lines flagged as
    cross-doc boilerplate (present in >= min_docs DISTINCT docs), and
    the token count that survives the scrub.

    Scale shape (r15 narrow-key rewrite): ONE pass of the map-side
    fingerprint generator, ONE exchange of the 20 B fingerprint rows on
    the 8-byte key, where a dense_rank + frame-less max window pair
    (same partitioning — Spark plans them over a single exchange, the
    running-distinct rewrite from operators/windows.py) computes the
    exact distinct-doc count without a second pass or a join back; the
    per-doc rollup is the only other exchange.  The line TEXT never
    leaves the scan task.  Every count is an exact integer —
    hash-stable.  Per-key window buffering is bounded by docs-per-line
    (max 1,282 at the 100x tier; pathological boilerplate spills, it
    does not fail)."""
    from pyspark.sql import Window as W

    lines = doc_line_hashes(docs)
    w1 = W.partitionBy("h").orderBy("doc_id")
    w2 = W.partitionBy("h")
    flagged = (
        lines.withColumn("dr", F.dense_rank().over(w1))
        .withColumn("n_docs", F.max("dr").over(w2))
        .select(
            "doc_id", (F.col("n_docs") >= min_docs).alias("dup"), "n_toks"
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_lines"),
            F.sum(F.when(F.col("dup"), 0).otherwise(F.col("n_toks")))
            .cast("long")
            .alias("n_kept_tokens"),
        )
        .orderBy("doc_id")
    )


_LINE_DEDUP_ORACLE = f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
lines AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(w) / {float(LINE_TOKENS)}) AS BIGINT)),
                i -> array_to_string(w[(i*{LINE_TOKENS}+1):(i*{LINE_TOKENS}+{LINE_TOKENS})], ' '))) AS line
  FROM ws
),
counts AS (
  SELECT line, COUNT(DISTINCT doc_id) AS n_docs FROM lines GROUP BY line
),
flagged AS (
  SELECT l.doc_id, (c.n_docs >= {LINE_DUP_MIN_DOCS}) AS dup,
         len(string_split(l.line, ' ')) AS n_toks
  FROM lines l JOIN counts c ON l.line = c.line
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       CAST(SUM(CASE WHEN dup THEN 0 ELSE n_toks END) AS BIGINT) AS n_kept_tokens
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


@register("dedup_lines_crossdoc", oracle=_LINE_DEDUP_ORACLE)
def q_dedup_lines_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup (the RefinedWeb/Falcon scrub): flag
    every line appearing in >= LINE_DUP_MIN_DOCS distinct documents
    and report, per doc, how many lines were flagged and how many
    tokens survive.  The oracle replays the identical segmentation and
    thresholds declaratively; at the gate SF 17 lines cross the
    threshold, so the flags are exercised, not vacuous."""
    return line_dedup_stats(load_table(spark, sf_dir, "documents"))


# --- incremental line-level dedup (store-probe, rolling-ingest form) --------

LINE_INCR_MIN_DOCS = 2  # a new doc's line matching >= this many CORPUS docs


@register(
    "dedup_incremental_lines",
    oracle=f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
lines AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(w) / {float(LINE_TOKENS)}) AS BIGINT)),
                i -> array_to_string(w[(i*{LINE_TOKENS}+1):(i*{LINE_TOKENS}+{LINE_TOKENS})], ' '))) AS line
  FROM ws
),
cut AS (SELECT CAST(FLOOR({INCR_NEW_FRACTION} * MAX(doc_id)) AS BIGINT) AS c FROM documents),
store AS (
  SELECT line, COUNT(DISTINCT doc_id) AS n_docs
  FROM lines, cut WHERE doc_id < cut.c GROUP BY line
),
probe AS (
  SELECT l.doc_id,
         (s.n_docs >= {LINE_INCR_MIN_DOCS}) AS dup,
         len(string_split(l.line, ' ')) AS n_toks
  FROM lines l CROSS JOIN cut LEFT JOIN store s ON l.line = s.line
  WHERE l.doc_id >= cut.c
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       CAST(SUM(CASE WHEN dup THEN 0 ELSE n_toks END) AS BIGINT) AS n_kept_tokens
FROM probe GROUP BY doc_id ORDER BY doc_id
""",
)
def q_dedup_incremental_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental line-level boilerplate scrub: the new batch's lines
    probe the CORPUS line store (per-line distinct-doc counts — the
    persisted artifact of a rolling ingest, same build-once discipline
    as the fingerprint/gram stores in dedup_incremental_exact/
    dedup_incremental_substring); a new doc's line is flagged when the
    STORE already attests LINE_INCR_MIN_DOCS distinct corpus docs.
    Only corpus→new sharing counts — lines two new docs share are the
    batch operator's problem (dedup_lines_crossdoc).  Completes the
    incremental family's symmetry: exact / minhash / substring / LINE.

    Scale shape: the store reduces to one FINGERPRINT-keyed count
    aggregate built once per ingest epoch (8-byte keys — the line text
    never leaves the scan task, r15 narrow-key rewrite); only the
    store rows already AT the threshold probe the batch, so the
    attested-key side is tiny and AQE broadcasts it; the per-new-doc
    rollup is the only other exchange."""
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(
        F.floor(F.lit(INCR_NEW_FRACTION) * F.max("doc_id")).cast("long").alias("c")
    )
    # the fingerprint stream materializes ONCE (localCheckpoint) so the
    # store build and the probe both read the 20 B rows, not a second
    # pass of the Python generator — in production this table IS the
    # persisted store artifact, so the checkpoint models the real shape
    lines = (
        doc_line_hashes(d)
        .crossJoin(F.broadcast(cut))  # 1-row scalar
        .localCheckpoint(eager=True)
    )
    attested = (
        lines.where(F.col("doc_id") < F.col("c"))
        .groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= LINE_INCR_MIN_DOCS)
        .select("h", F.lit(True).alias("dup0"))
    )
    probe = (
        lines.where(F.col("doc_id") >= F.col("c"))
        .join(attested, "h", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("dup0"), F.lit(False)).alias("dup"),
            "n_toks",
        )
    )
    return (
        probe.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_lines"),
            F.sum(F.when(F.col("dup"), 0).otherwise(F.col("n_toks")))
            .cast("long")
            .alias("n_kept_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_lsh_scurve_certificate — the (b, r) parameter-selection
# certificate every production near-dedup exposes (Leskovec/Rajaraman/
# Ullman, Mining of Massive Datasets ch. 3): at band geometry (b, r)
# a pair with Jaccard s shares >= 1 full band with probability
# P(s) = 1 - (1 - s^r)^b — the S-curve whose knee is the pipeline's
# effective threshold.  This row MEASURES the deployed geometry's
# curve instead of trusting it: every document gets a MUTATED TWIN
# with a controlled fraction of token positions replaced by
# per-(doc, position) marker tokens (mutation level = doc_id mod 10,
# so the corpus sweeps the whole similarity range deterministically),
# the pair's EXACT Jaccard bins it (pure integer math — div(10·|∩|,
# |∪|)), and the banding verdict comes from the PRODUCTION signature
# expression (`minhash_sig_expr`) applied to both texts.  Theory
# enters as an oracle-time literal (round6 of the closed form at
# each bin midpoint) joined by bin — never engine-evaluated POWER(),
# whose libm rounding Spark and DuckDB do not share.
# ---------------------------------------------------------------------------

LSH_SCURVE_LEVELS = 10  # mutation levels: doc_id % 10 positions-in-10 replaced


def _scurve_theory_rows() -> tuple[tuple[int, float], ...]:
    """(bin, round6(P at bin midpoint)) for bins 0..10; bin 10 is the
    exact-equality bin (s = 1), where P = 1 identically."""
    from ..functions.train import round6

    rows = []
    for b in range(11):
        s = 1.0 if b == 10 else (b + 0.5) / 10.0
        rows.append((b, round6(1.0 - (1.0 - s**BAND_ROWS) ** N_BANDS)))
    return tuple(rows)


def _scurve_oracle() -> str:
    theory_vals = ",\n    ".join(
        f"({b}, {p!r})" for b, p in _scurve_theory_rows()
    )
    sig_exprs = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * hm + {MINHASH_B[i]}) % {MERSENNE31}) AS s{i}"
        for i in range(N_MINHASH)
    )
    band_conds = " OR ".join(
        "("
        + " AND ".join(
            f"o.s{i} = t.s{i}"
            for i in range(bi * BAND_ROWS, (bi + 1) * BAND_ROWS)
        )
        + ")"
        for bi in range(N_BANDS)
    )
    return f"""
WITH theory(bin, theory_p6) AS (VALUES
    {theory_vals}),
ws AS (
  SELECT doc_id, string_split(text, ' ') AS w, doc_id % {LSH_SCURVE_LEVELS} AS m
  FROM documents
),
twin AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, len(w) + 1),
           k -> CASE WHEN ((k - 1) * 31 + doc_id) % {LSH_SCURVE_LEVELS} < m
                     THEN 'zz' || CAST(doc_id AS VARCHAR) || '_' || CAST(k - 1 AS VARCHAR)
                     ELSE w[CAST(k AS INTEGER)] END), ' ') AS ttext
  FROM ws
),
otoks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
ttoks AS (SELECT DISTINCT doc_id, unnest(string_split(ttext, ' ')) AS tok FROM twin),
jac AS (
  SELECT o.doc_id,
         (SELECT COUNT(*) FROM ttoks t
          WHERE t.doc_id = o.doc_id AND t.tok IN
            (SELECT tok FROM otoks x WHERE x.doc_id = o.doc_id)) AS i,
         (SELECT COUNT(*) FROM (
            SELECT tok FROM otoks x WHERE x.doc_id = o.doc_id
            UNION SELECT tok FROM ttoks t WHERE t.doc_id = o.doc_id) u) AS u
  FROM (SELECT DISTINCT doc_id FROM documents) o
),
ohm AS (SELECT doc_id, {duckdb_hash60_mod('tok')} AS hm FROM otoks),
thm AS (SELECT doc_id, {duckdb_hash60_mod('tok')} AS hm FROM ttoks),
osig AS (SELECT doc_id, {sig_exprs} FROM ohm GROUP BY doc_id),
tsig AS (SELECT doc_id, {sig_exprs} FROM thm GROUP BY doc_id),
pairs AS (
  SELECT j.doc_id,
         CAST((10 * j.i) // j.u AS INTEGER) AS bin,
         CASE WHEN {band_conds} THEN 1 ELSE 0 END AS collide
  FROM jac j
  JOIN osig o ON o.doc_id = j.doc_id
  JOIN tsig t ON t.doc_id = j.doc_id
)
SELECT p.bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(p.collide) AS BIGINT) AS n_collide,
       th.theory_p6
FROM pairs p JOIN theory th ON th.bin = p.bin
GROUP BY p.bin, th.theory_p6
ORDER BY p.bin
"""


@register("dedup_lsh_scurve_certificate", oracle=_scurve_oracle)
def q_dedup_lsh_scurve_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployed MinHash band geometry's measured S-curve: per
    exact-Jaccard bin, how many (document, mutated-twin) pairs exist
    and how many share >= 1 full band under the PRODUCTION signature
    expression, alongside the closed-form collision probability at the
    bin midpoint.  tests/test_dedup.py::test_scurve_* assert the
    empirical rates track the curve (near-zero below the knee, 1.0 at
    the equality bin) — the quantitative justification for (b, r) =
    ({N_BANDS}, {BAND_ROWS}) that a recall gate alone cannot give.

    Scale shape: the twin derivation and both signature folds are
    row-local projections on ONE scan (no self-join — each doc pairs
    with its own twin); the only exchange is the 11-key bin rollup.
    At 100 TB this is exactly the shape of a production geometry
    audit: a single pass over a sample shard, constant-size output."""
    docs = load_table(spark, sf_dir, "documents")
    m = (F.col("doc_id") % LSH_SCURVE_LEVELS).cast("long")
    ws = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.size(ws) - 1)
    twin_toks = F.zip_with(
        ws,
        idx,
        lambda t, k: F.when(
            ((k.cast("long") * 31 + F.col("doc_id")) % LSH_SCURVE_LEVELS) < m,
            F.concat(
                F.lit("zz"),
                F.col("doc_id").cast("string"),
                F.lit("_"),
                k.cast("string"),
            ),
        ).otherwise(t),
    )
    aset = F.array_distinct(ws)
    tset = F.array_distinct(twin_toks)
    inter = F.size(F.array_intersect(aset, tset)).cast("long")
    union = F.size(F.array_union(aset, tset)).cast("long")
    pairs = docs.select(
        F.col("doc_id"),
        (F.lit(10) * inter).alias("i10"),
        union.alias("u"),
        minhash_sig_expr(F.col("text")).alias("osig"),
        minhash_sig_expr(F.array_join(twin_toks, " ")).alias("tsig"),
    ).select(
        "doc_id",
        # integer DIV keeps the bin exact on both engines (a double
        # divide could land 5.999... when u divides 10·i evenly)
        F.expr("CAST(i10 DIV u AS INT)").alias("bin"),
        "osig",
        "tsig",
    )
    band_eq = [
        reduce(
            lambda a, c: a & c,
            [
                F.get("osig", i) == F.get("tsig", i)
                for i in range(bi * BAND_ROWS, (bi + 1) * BAND_ROWS)
            ],
        )
        for bi in range(N_BANDS)
    ]
    collide = reduce(lambda a, c: a | c, band_eq)
    binned = (
        pairs.withColumn("collide", F.when(collide, 1).otherwise(0))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("collide").cast("long").alias("n_collide"),
        )
    )
    theory = docs.sparkSession.createDataFrame(
        list(_scurve_theory_rows()), "bin int, theory_p6 double"
    )
    return binned.join(theory, "bin").orderBy("bin")


# ---------------------------------------------------------------------------
# dedup_minhash_weighted — INTEGER-WEIGHTED MinHash near-dedup (weighted
# Jaccard over (token, term-frequency) bags), the production upgrade to
# the distinct-token row: plain MinHash treats "a a a b" and "a b" as
# identical sets, so boilerplate-heavy or repetition-padded documents
# collapse onto their vocabulary and false-merge.  Weighted Jaccard
# J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) keeps multiplicity.
#
# Scheme: the REPLICATION trick for integer weights (the exact special
# case of consistent weighted sampling — Haveliwala/Gionis/Indyk-style
# expansion): token t with tf = k expands to elements t#1..t#k, and
# plain Jaccard over the expansions EQUALS weighted Jaccard over the
# bags (the pair shares exactly min(tf_a, tf_b) copies of t; the union
# holds max).  So the existing exact-integer md5 MinHash machinery —
# same 16 permutations, same band geometry, same salted bucket join —
# applies unchanged, both engines stay bit-identical (no ICWS
# log/exp/gamma floats), and the verify stage is pure integer
# arithmetic: Σmin from the shared-token join, Σmax = n_a + n_b − Σmin
# from per-doc token totals (no outer join needed).
# ---------------------------------------------------------------------------

WJ_T_NUM, WJ_T_DEN = 9, 10  # verify threshold: weighted Jaccard >= 9/10, exact


def weighted_elements_expr(text_col) -> F.Column:
    """tf-expanded element array, row-local: per distinct token, tf
    copies tagged #1..#tf.  The inner tf count is an O(n) filter per
    distinct token (n ≈ 60 tokens/doc ⇒ ~2.4k interpreted ops per doc
    — scan-local, no shuffle, no Python)."""
    ws = tokens(text_col)
    return F.flatten(
        F.transform(
            F.array_distinct(ws),
            lambda t: F.transform(
                F.sequence(
                    F.lit(1), F.size(F.filter(ws, lambda x: x == t))
                ),
                lambda i: F.concat(t, F.lit("#"), i.cast("string")),
            ),
        )
    )


def _minhash_weighted_oracle() -> str:
    sig_exprs = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * hm + {MINHASH_B[i]}) % {MERSENNE31}) AS s{i}"
        for i in range(N_MINHASH)
    )
    band_conds = " OR ".join(
        "("
        + " AND ".join(
            f"a.s{i} = b.s{i}"
            for i in range(bi * BAND_ROWS, (bi + 1) * BAND_ROWS)
        )
        + ")"
        for bi in range(N_BANDS)
    )
    return f"""
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY doc_id, tok
),
expd AS (
  SELECT doc_id,
         tok || '#' || CAST(unnest(range(1, tf + 1)) AS VARCHAR) AS elem
  FROM tf
),
hm AS (SELECT doc_id, {duckdb_hash60_mod('elem')} AS hm FROM expd),
sigs AS (SELECT doc_id, {sig_exprs} FROM hm GROUP BY doc_id),
cand AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
  WHERE {band_conds}
),
tot AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
num AS (
  SELECT c.a_id, c.b_id, SUM(LEAST(x.tf, y.tf)) AS num
  FROM cand c
  JOIN tf x ON x.doc_id = c.a_id
  JOIN tf y ON y.doc_id = c.b_id AND y.tok = x.tok
  GROUP BY c.a_id, c.b_id
)
SELECT n.a_id, n.b_id,
       CAST(n.num AS BIGINT) AS sum_min,
       CAST(ta.n + tb.n - n.num AS BIGINT) AS sum_max
FROM num n
JOIN tot ta ON ta.doc_id = n.a_id
JOIN tot tb ON tb.doc_id = n.b_id
WHERE {WJ_T_DEN} * n.num >= {WJ_T_NUM} * (ta.n + tb.n - n.num)
ORDER BY n.a_id, n.b_id
"""


@register("dedup_minhash_weighted", oracle=_minhash_weighted_oracle)
def dedup_minhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-Jaccard near-dedup, exact end to end: tf-expanded
    MinHash signatures band into the SAME salted LSH bucket join as the
    plain row, and surviving candidates verify with pure integer
    arithmetic — Σmin(tf) from the shared-token join, Σmax = n_a + n_b
    − Σmin from the per-doc totals, pass iff {WJ_T_DEN}·Σmin ≥
    {WJ_T_NUM}·Σmax.  Output is the passing pairs with their exact
    (Σmin, Σmax) — integers, hash-stable, no float anywhere.

    Scale shape: the expansion is row-local (tf copies of each distinct
    token, still ~|tokens| elements per doc), the signature fold stays
    one pass, candidates come from the banded bucket join (never
    all-pairs), and the verify joins the tf table — keyed by doc_id, so
    the join direction is PINNED: the bounded candidate side
    broadcasts, the corpus-sized tf/total tables stream (statistics
    once chose to broadcast the 3M-row tf table at the 100x tier and
    OOM'd the driver — the exact failure a 100 TB run would hit)."""
    from ..sources.tables import spread

    # single-file gate scans arrive as 1-3 splits; the tf expansion and
    # the signature fold are the CPU (HOF-interpreted) hot path, so
    # spread them across cores before branching (memory: r14 dim-1536)
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = tokens(F.col("text"))
    tf = (
        docs.select("doc_id", F.explode(ws).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Signatures as 16 MIN aggregates over the exploded tf table — the
    # oracle's own shape — instead of the row-local HOF fold over
    # weighted_elements_expr: the HOF expansion counts each distinct
    # token with an O(n) filter (O(distinct·n) interpreted ops per doc
    # — the 100x tier measured it as the dominant cost), while this
    # form is two codegen exchanges the verify's tf table already pays
    # for (ReuseExchange dedupes the scan).  It also matches the
    # oracle on zero-token docs: no elements → no signature row,
    # where the fold would emit an all-sentinel signature.
    elems = tf.select(
        "doc_id", "tok", F.explode(F.sequence(F.lit(1), F.col("tf"))).alias("i")
    ).select(
        "doc_id",
        F.concat(F.col("tok"), F.lit("#"), F.col("i").cast("string")).alias("elem"),
    )
    hm = elems.select("doc_id", md5_hash60_mod(F.col("elem")).alias("hm"))
    sigs = (
        hm.groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.lit(MINHASH_A[i]).cast("long") * F.col("hm")
                     + F.lit(MINHASH_B[i]).cast("long"))
                    % F.lit(MERSENNE31).cast("long")
                ).alias(f"s{i}")
                for i in range(N_MINHASH)
            ]
        )
        .select(
            "doc_id",
            F.array(*[F.col(f"s{i}") for i in range(N_MINHASH)]).alias("sigs"),
        )
    )
    cand = lsh_candidate_pairs(sigs).select("a_id", "b_id")
    tot = docs.select("doc_id", F.size(ws).cast("long").alias("n"))
    # Join direction is pinned, not left to statistics: the BANDED
    # candidate set (and everything derived from it) is the bounded
    # side; the tf table is O(corpus tokens) and must only ever be
    # STREAMED.  The 100x tier caught the planner broadcasting the
    # 3M-row tf table off a stats misestimate — driver OOM at 500k
    # docs, silently "fine" at the 5k-doc gate SF (the exact failure
    # shape a 100 TB run would hit).
    num = (
        F.broadcast(cand)
        .join(tf.withColumnRenamed("doc_id", "a_id"), "a_id")
        .transform(
            lambda probes: F.broadcast(probes).join(
                tf.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
                    "tf", "tf_b"
                ),
                ["b_id", "tok"],
            )
        )
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.least("tf", "tf_b")).alias("num"))
    )
    return (
        F.broadcast(num)
        .join(
            tot.withColumnRenamed("doc_id", "a_id").withColumnRenamed(
                "n", "na"
            ),
            "a_id",
        )
        .transform(
            lambda m: F.broadcast(m).join(
                tot.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
                    "n", "nb"
                ),
                "b_id",
            )
        )
        .where(
            F.lit(WJ_T_DEN) * F.col("num")
            >= F.lit(WJ_T_NUM) * (F.col("na") + F.col("nb") - F.col("num"))
        )
        .select(
            "a_id",
            "b_id",
            F.col("num").cast("long").alias("sum_min"),
            (F.col("na") + F.col("nb") - F.col("num"))
            .cast("long")
            .alias("sum_max"),
        )
        .orderBy("a_id", "b_id")
    )
