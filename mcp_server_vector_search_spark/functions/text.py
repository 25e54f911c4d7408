"""Text-analysis column expressions (all JVM-side, no Python UDFs).

The training-data-pipeline surface (BASELINE.json north star): token
counting, quality scoring, language-ID heuristic, fingerprinting.
Everything is a composition of built-in functions over the tokenized
``text`` column, so a 100 TB documents scan stays inside whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import MERSENNE31, ROLLING_BASE, md5_hash60_mod

STOPWORDS = ["the", "a"]  # function words present in the testdata vocabulary

# Deterministic lang-id heuristic: marker tokens per language, scored by
# occurrence count, argmax with fixed priority order (en > de > es > fr > zh).
# With real corpora the markers would be per-language character n-grams;
# the mechanism (score -> argmax -> tie-break) is what the operator shows.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "slow"],
    "de": ["table", "join", "hash"],
    "es": ["row", "data", "value"],
    "fr": ["query", "window", "filter"],
    "zh": ["batch", "stream", "spark"],
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]

# BPE-ish pre-tokenization: letter runs, digit runs, single other glyphs.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def let1(value: Column, fn) -> Column:
    """Bind ``value`` to a lambda variable evaluated ONCE per row:
    ``transform(array(value), fn)[0]``.

    Catalyst does not share subexpressions across higher-order-function
    lambda bodies, so an expression like ``element_at(split(text), i)``
    inside ``transform`` re-splits the text for EVERY element — O(L²)
    work per document (measured 10x on the bigram explode at sf0.1:
    5.0s → 0.5s).  Routing the array through a single-element transform
    makes it a lambda variable, which IS evaluated once and shared by
    the body.  Use for any n-gram/shingle builder that indexes into a
    derived array more than once.
    """
    return F.element_at(F.transform(F.array(value), fn), 1)


def adjacent_grams(text_col: Column, n: int, make, empty_type: str) -> Column:
    """Word n-grams as one let-bound expression: ``make(toks, i)`` builds
    the i-th gram (1-based start index), guarded to an empty array for
    documents shorter than n tokens (Spark's ``sequence(1, 0)`` would
    count DOWN).  The single definition carries the two subtle
    invariants every gram builder needs — the short-doc guard and the
    :func:`let1` binding that stops Catalyst re-splitting the text per
    element — so shingles, bigrams, and pair-structs cannot drift."""

    def build(toks: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
        grams = F.transform(idx, lambda i: make(toks, i))
        return F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast(empty_type)
        )

    return let1(tokens(text_col), build)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))


def distinct_token_ratio(text: Column) -> Column:
    toks = tokens(text)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stops = F.filter(toks, lambda t: t.isin(STOPWORDS))
    return F.size(stops).cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length saturation + low stopword mass
    + vocabulary diversity (the classic pretraining-filter trio)."""
    length_term = F.least(F.lit(1.0), token_count(text).cast("double") / F.lit(50.0))
    return (
        F.lit(0.4) * length_term
        + F.lit(0.3) * (F.lit(1.0) - stopword_ratio(text))
        + F.lit(0.3) * distinct_token_ratio(text)
    )


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Argmax over language marker scores, ties broken by priority."""
    scores = lang_scores(text)
    expr = None
    # priority-ordered CASE: a language wins if its score is >= all later ones
    for i, lang in enumerate(LANG_PRIORITY):
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            # >= against lower-priority, > against higher-priority
            later = LANG_PRIORITY.index(other) > i
            c = scores[lang] >= scores[other] if later else scores[lang] > scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(LANG_PRIORITY[0])


def duckdb_lang_id(text_expr: str) -> str:
    """DuckDB SQL mirror of :func:`lang_id` (same CASE ladder)."""

    def score(lang: str) -> str:
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return (
            f"len(list_filter(string_split({text_expr}, ' '), "
            f"t -> list_contains([{markers}], t)))"
        )

    cases = []
    for i, lang in enumerate(LANG_PRIORITY):
        conds = []
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            op = ">=" if LANG_PRIORITY.index(other) > i else ">"
            conds.append(f"{score(lang)} {op} {score(other)}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{LANG_PRIORITY[0]}' END"


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over the token stream:
    acc = (acc * 31 + h(tok)) mod 2^31-1.  Near-identical docs with
    reordered tokens get different fingerprints (unlike bag-of-words
    signatures); md5-derived so the oracle can reproduce it."""
    hashed = F.transform(tokens(text), lambda t: md5_hash60_mod(t))
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLLING_BASE + h) % F.lit(MERSENNE31),
    )


def bag_signature(text: Column) -> Column:
    """Canonical bag-of-words key: sorted distinct tokens re-joined.
    Groups word-order permutations of the same vocabulary together —
    the cheapest near-dup normalization."""
    return F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")


# Unigram-LM Viterbi segmenter — lives in this LIGHT module so the
# trainer's worker-side E-step UDF imports ~0 s of code instead of the
# operator modules.  Default maxlen mirrors operators.text_analysis.
# UNIGRAM_MAXLEN (4); callers pass it explicitly anyway.
def _viterbi_segment(word: str, logp: dict[str, float], maxlen: int = 4):
    """Best segmentation of ``word`` under piece log-probs: maximize
    the logprob sum; ties prefer FEWER pieces, then the longer last
    piece at each DP cell (smaller split point) — a total order, so
    the distributed E-step and the python replication cannot diverge.
    Single-char pieces are always in the vocab, so every word
    segments."""
    import math

    n = len(word)
    NEG = -math.inf
    score = [NEG] * (n + 1)
    npieces = [0] * (n + 1)
    back = [0] * (n + 1)
    score[0] = 0.0
    for i in range(1, n + 1):
        bs, bp, bj = NEG, 0, -1
        for j in range(max(0, i - maxlen), i):
            if score[j] == NEG:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            s = score[j] + lp
            p = npieces[j] + 1
            if bj < 0 or s > bs or (s == bs and (p < bp or (p == bp and j < bj))):
                bs, bp, bj = s, p, j
        score[i], npieces[i], back[i] = bs, bp, bj
    pieces: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    return pieces[::-1]
