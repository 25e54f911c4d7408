"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as
``binary`` columns next to typed metadata, processed by Arrow-batched
``mapInPandas`` (one Python worker per partition, whole-batch numpy
work, no per-row serde).  The IMAGE path here is real end to end: the
payloads are genuine PNG files and the decode/resize operators run a
real PNG codec (functions/png.py — pure stdlib zlib/struct per the
public PNG spec, all five scanline filters).  Because the container
ships no image FILES, payloads are generated synthetically — but with
a closed-form pixel formula, so the DuckDB oracle can independently
compute what a correct encode→decode round trip must produce, making
the codec itself value-hash-certified.

The VIDEO frame-sampling path keeps its deterministic stand-in codec
(no video format is implementable in ~150 lines); its fan-out plumbing
is the certified part.

Sources for real payloads would be ``spark.read.format("binaryFile")``
or ``format("image")``; the generation step below stands in for that
read and nothing downstream depends on how the bytes were obtained.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import load_or_build
from ..functions.png import decode_png, encode_png, nn_resize
from ..registry import register
from .tables import load_table, spread, table_path

# Synthetic image model, shared verbatim with the SQL oracles:
#   width  = 16 + doc_id % 17
#   height = 16 + doc_id % 13
#   pixel[y, x] = (doc_id*31 + x*7 + y*13) % 256   (8-bit greyscale)
# The PNG scanline filter rotates over all five spec filter types by
# doc_id, so every decode path is exercised by the registered queries.


def synthetic_image(doc_id: int) -> np.ndarray:
    w, h = 16 + doc_id % 17, 16 + doc_id % 13
    x = (np.arange(w, dtype=np.int64) * 7)[None, :]
    y = (np.arange(h, dtype=np.int64) * 13)[:, None]
    return ((doc_id * 31 + x + y) % 256).astype(np.uint8)


def attach_png_payload(documents: DataFrame) -> DataFrame:
    """Stand-in ingest for ``binaryFile``: one real PNG per document,
    encoded executor-side in Arrow batches."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_png(synthetic_image(int(d)), filter_type=int(d) % 5)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "modality": "image",
                }
            )

    # spread() first: the codec work is CPU-bound Python per row, and a
    # single-file scan would otherwise run every encode on one core
    return spread(documents.select("doc_id")).mapInPandas(
        encode_batches, schema="doc_id long, payload binary, modality string"
    )


def attach_binary_payload(documents: DataFrame) -> DataFrame:
    """Text → utf-8 bytes as an opaque payload column (the video/audio
    stand-in where no real codec is wired)."""
    return spread(documents).select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("video").alias("modality"),
    )


META_SCHEMA = (
    "doc_id long, modality string, byte_len long, sha256 string, "
    "width int, height int, px_sum long"
)


def extract_metadata(with_payload: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads: REAL PNG decode per batch.

    The batch shape is the contract: each pandas DataFrame holds one
    Arrow batch of (doc_id, payload, modality); output rows align 1:1.
    width/height/px_sum come from the decoded pixel array — a payload
    the codec cannot decode fails the job rather than fabricating
    values (the honest behavior for a corrupt-image row; a production
    pipeline would route failures to a quarantine sink from the same
    slot)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [decode_png(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "sha256": [
                        hashlib.sha256(p).hexdigest() for p in pdf["payload"]
                    ],
                    "width": [a.shape[1] for a in arrs],
                    "height": [a.shape[0] for a in arrs],
                    "px_sum": [int(a.sum(dtype=np.int64)) for a in arrs],
                }
            )

    return with_payload.mapInPandas(decode_batches, schema=META_SCHEMA)


RESIZE_SCHEMA = "doc_id long, payload binary, width int, height int"
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_hash string"
FRAME_BYTES = 500  # stand-in codec: one "frame" per 500 payload bytes


def resize_images(with_payload: DataFrame, width: int, height: int) -> DataFrame:
    """Real resize: decode PNG → nearest-neighbor resample → re-encode.
    Batch-in/batch-out 1:1 through Arrow; the output payload is again a
    valid PNG (filter 0), so stages compose decode(resize(x))."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                encode_png(nn_resize(decode_png(p), width, height))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "width": width,
                    "height": height,
                }
            )

    return with_payload.mapInPandas(resize_batches, schema=RESIZE_SCHEMA)


def sample_frames(with_payload: DataFrame) -> DataFrame:
    """Frame-sampling plumbing: 1:N batch fan-out (each payload row
    yields ``1 + len // FRAME_BYTES`` frame rows).  The "frame" is a
    deterministic digest of (payload, index) so the operator is fully
    oracle-checkable with the video codec stubbed; a real codec plugs
    into the same mapInPandas slot emitting binary frames.
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = 1 + len(p) // FRAME_BYTES
                for k in range(n_frames):
                    ids.append(doc_id)
                    idxs.append(k)
                    hashes.append(
                        hashlib.md5(p + b"#" + str(k).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_hash": hashes}
            )

    return with_payload.mapInPandas(frame_batches, schema=FRAME_SCHEMA)


@register(
    "multimodal_frame_sample",
    oracle=f"""
SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
       md5(text || '#' || CAST(k AS VARCHAR)) AS frame_hash
FROM documents, UNNEST(range(0, 1 + LENGTH(text) // {FRAME_BYTES})) AS t(k)
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs))


@register(
    "multimodal_metadata",
    oracle="""
SELECT d.doc_id,
       'image' AS modality,
       CAST(16 + d.doc_id % 17 AS INTEGER) AS width,
       CAST(16 + d.doc_id % 13 AS INTEGER) AS height,
       CAST(SUM((d.doc_id * 31 + t.x * 7 + u.y * 13) % 256) AS BIGINT) AS px_sum
FROM documents d,
     UNNEST(range(0, 16 + d.doc_id % 17)) AS t(x),
     UNNEST(range(0, 16 + d.doc_id % 13)) AS u(y)
GROUP BY d.doc_id
""",
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec certificate: the engine ENCODES each document's
    synthetic image to actual PNG bytes (rotating through all five
    scanline filters), DECODES those bytes back with the real codec,
    and reports width/height/pixel-sum from the decoded array.  The
    oracle computes the same quantities from the closed-form pixel
    model — any encoder or decoder defect (filter math, zlib framing,
    scanline layout) breaks the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    meta = extract_metadata(attach_png_payload(docs))
    return meta.select("doc_id", "modality", "width", "height", "px_sum")


RESIZE_W, RESIZE_H = 64, 64


@register(
    "multimodal_resize",
    oracle=f"""
SELECT d.doc_id,
       CAST({RESIZE_W} AS INTEGER) AS width,
       CAST({RESIZE_H} AS INTEGER) AS height,
       CAST(SUM((d.doc_id * 31
                 + ((t.x * (16 + d.doc_id % 17)) // {RESIZE_W}) * 7
                 + ((u.y * (16 + d.doc_id % 13)) // {RESIZE_H}) * 13) % 256)
            AS BIGINT) AS px_sum
FROM documents d,
     UNNEST(range(0, {RESIZE_W})) AS t(x),
     UNNEST(range(0, {RESIZE_H})) AS u(y)
GROUP BY d.doc_id
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through the REAL codec end to end: PNG decode →
    nearest-neighbor resample → PNG re-encode → decode AGAIN for the
    certificate values.  The oracle replays the floor-mapped resample
    over the closed-form pixel model in SQL, so the emitted pixel sums
    verify the full decode/resample/encode/decode chain byte-for-byte
    — not just that rows came back."""
    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(attach_png_payload(docs), RESIZE_W, RESIZE_H)
    meta = extract_metadata(resized.withColumn("modality", F.lit("image")))
    return meta.select("doc_id", "width", "height", "px_sum")


# ---------------------------------------------------------------------------
# Perceptual-hash (aHash) image dedup over the real codec
# ---------------------------------------------------------------------------

PHASH_SIDE = 8  # aHash grid: 8×8 = 64 bits


def ahash_bits(arr: np.ndarray) -> str:
    """Average-hash of a greyscale image: nearest-neighbor downsample to
    8×8, bit = (pixel above the 64-cell mean), emitted as a 64-char
    '0'/'1' string in (row, col) order.

    The mean comparison is INTEGER arithmetic (``pixel * 64 > sum``) so
    the SQL oracle reproduces every bit exactly — no float mean to
    diverge in the last ulp.  A string (not a packed BIGINT) because
    2^63 bit weights would overflow signed 64-bit in either engine.
    """
    if arr.ndim != 2:  # an (h, w, 3) RGB array would silently broadcast
        raise ValueError(
            f"ahash_bits expects a 2-D greyscale array, got shape {arr.shape}; "
            "collapse channels (e.g. mean or luma) before hashing"
        )
    small = nn_resize(arr, PHASH_SIDE, PHASH_SIDE).astype(np.int64)
    total = int(small.sum())
    bits = (small * (PHASH_SIDE * PHASH_SIDE) > total).astype(np.uint8)
    return "".join("1" if b else "0" for b in bits.ravel())


def phash_signatures(with_payload: DataFrame) -> DataFrame:
    """mapInPandas: decode each PNG with the real codec and emit its
    aHash.  Batch-in/batch-out 1:1; the downstream groupBy on the
    64-char signature is the dedup shuffle (exact-duplicate semantics;
    near-dup Hamming banding would reuse the SimHash chunk machinery
    from operators/dedup.py on the same signatures)."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [ahash_bits(decode_png(p)) for p in pdf["payload"]],
                }
            )

    return with_payload.mapInPandas(hash_batches, schema="doc_id long, phash string")


@register(
    "multimodal_phash_dedup",
    oracle=f"""
WITH px AS (
  SELECT d.doc_id, t.x, u.y,
         (d.doc_id * 31
          + ((t.x * (16 + d.doc_id % 17)) // {PHASH_SIDE}) * 7
          + ((u.y * (16 + d.doc_id % 13)) // {PHASH_SIDE}) * 13) % 256 AS p
  FROM documents d,
       UNNEST(range(0, {PHASH_SIDE})) AS t(x),
       UNNEST(range(0, {PHASH_SIDE})) AS u(y)
),
tot AS (SELECT doc_id, SUM(p) AS s FROM px GROUP BY doc_id),
sig AS (
  SELECT px.doc_id,
         string_agg(CASE WHEN px.p * {PHASH_SIDE * PHASH_SIDE} > tot.s
                         THEN '1' ELSE '0' END, ''
                    ORDER BY px.y, px.x) AS phash
  FROM px JOIN tot ON px.doc_id = tot.doc_id
  GROUP BY px.doc_id
)
SELECT doc_id, phash,
       COUNT(*) OVER (PARTITION BY phash) AS n_same_hash
FROM sig
ORDER BY doc_id
""",
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup certificate over the REAL codec: encode the
    closed-form image to actual PNG bytes, decode with the real
    decoder, aHash the decoded pixels, and count signature collisions.
    The oracle recomputes every one of the 64 bits per document from
    the pixel model in SQL — a single wrong scanline filter, resample
    index, or bit order breaks the value hash.  ``n_same_hash`` is the
    duplicate-group size (the drop decision at pipeline level is
    "keep lowest doc_id per phash", same rule as dedup_exact)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sigs = phash_signatures(attach_png_payload(docs))
    return sigs.select(
        "doc_id",
        "phash",
        F.count("*").over(W.partitionBy("phash")).alias("n_same_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# DCT pHash (the production perceptual hash; aHash above is the cheap
# sibling).  8x8 low-frequency block of a 16x16 integer DCT-II over an
# AREA-AVERAGED resample, bit = coeff above the AC median — markedly
# more robust to resize/re-encode than aHash on natural-image-like
# content, because anti-aliased low-frequency structure survives
# resampling that scrambles per-cell point samples.
# ---------------------------------------------------------------------------

DCT_N = 16  # resample side (every corpus dim is >= 16, so the forward
#             box map (sx*N)//w leaves no empty cell; 32 would need an
#             upsampling branch the SQL mirror can't share cleanly)
DCT_K = 8  # retained low-frequency block (64 bits)
DCT_SCALE = 1 << 14
DCT_AVG_SCALE = 1 << 10  # fixed-point scale for the box average

# Integer cosine table: round(cos(pi*(2x+1)*u/(2N)) * 2^14), computed
# ONCE here and folded into both engines — Spark uses the numpy copy,
# the oracle interpolates the same integers as literals.  The whole
# transform is then exact int64 arithmetic (max |coeff| ~ 2e16), so
# there is no cross-engine float summation order to diverge.
import math as _math  # noqa: E402

ICOS = [
    [
        round(_math.cos(_math.pi * (2 * x + 1) * u / (2 * DCT_N)) * DCT_SCALE)
        for x in range(DCT_N)
    ]
    for u in range(DCT_K)
]
_ICOS_NP = np.asarray(ICOS, dtype=np.int64)


def box_resize_scaled(arr: np.ndarray) -> np.ndarray:
    """Anti-aliased fixed-point downsample: source pixel (sx, sy) maps
    forward to cell ((sx*N)//w, (sy*N)//h); each cell's value is
    ``(sum * 2^10) // count`` — pure integer arithmetic the SQL oracle
    reproduces as a GROUP BY + floor division.  Requires both dims
    >= N (guaranteed by the corpus model; asserted for anything else).

    Area averaging is what buys resize robustness: aHash's
    nearest-neighbor point sampling aliases textured content, flipping
    bits under rescale; the box filter integrates the same region of
    the image regardless of the source resolution."""
    if arr.ndim != 2:
        raise ValueError(
            f"box_resize_scaled expects a 2-D greyscale array, got {arr.shape}"
        )
    h, w = arr.shape
    if h < DCT_N or w < DCT_N:
        raise ValueError(f"image {w}x{h} smaller than the {DCT_N} resample grid")
    tx = (np.arange(w) * DCT_N) // w
    ty = (np.arange(h) * DCT_N) // h
    iy = ty[:, None].repeat(w, 1)
    ix = tx[None, :].repeat(h, 0)
    sums = np.zeros((DCT_N, DCT_N), dtype=np.int64)
    cnt = np.zeros((DCT_N, DCT_N), dtype=np.int64)
    np.add.at(sums, (iy, ix), arr.astype(np.int64))
    np.add.at(cnt, (iy, ix), 1)
    return (sums * DCT_AVG_SCALE) // cnt


def phash_dct_bits(arr: np.ndarray) -> str:
    """DCT perceptual hash of a greyscale image: box-average resample
    to 16x16 fixed-point, integer 2D DCT-II (the ICOS table both
    ways), keep the top-left 8x8 coefficient block, bit = coefficient
    above the median of the 63 AC coefficients (lower median — index
    (n-1)//2 of the sorted list, DuckDB ``quantile_disc`` semantics).
    The DC bit compares against the same median (it is effectively
    always 1; kept so the signature stays a clean 64-bit block in
    (u, v) row-major order)."""
    p = box_resize_scaled(arr)
    coef = _ICOS_NP @ p.T @ _ICOS_NP.T  # coef[u, v], exact int64
    ac = np.delete(coef.ravel(), 0)
    med = int(np.sort(ac)[(ac.size - 1) // 2])
    return "".join("1" if c > med else "0" for c in coef.ravel())


def phash_dct_signatures(with_payload: DataFrame) -> DataFrame:
    """mapInPandas twin of ``phash_signatures`` emitting the DCT hash."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [
                        phash_dct_bits(decode_png(p)) for p in pdf["payload"]
                    ],
                }
            )

    return with_payload.mapInPandas(hash_batches, schema="doc_id long, phash string")


def _icos_values_sql() -> str:
    return ",\n  ".join(
        f"({u}, {x}, {c})" for u, row in enumerate(ICOS) for x, c in enumerate(row)
    )


@register(
    "multimodal_phash_dct",
    oracle=f"""
WITH icos(u, x, c) AS (VALUES
  {{ICOS_VALUES}}
),
px AS (
  SELECT d.doc_id,
         (16 + d.doc_id % 17) AS w, (16 + d.doc_id % 13) AS h,
         t.x, u_.y,
         (d.doc_id * 31 + t.x * 7 + u_.y * 13) % 256 AS p
  FROM documents d,
       UNNEST(range(0, 16 + d.doc_id % 17)) AS t(x),
       UNNEST(range(0, 16 + d.doc_id % 13)) AS u_(y)
),
cell AS (
  SELECT doc_id, (x * {DCT_N}) // w AS cx, (y * {DCT_N}) // h AS cy,
         (SUM(p) * {DCT_AVG_SCALE}) // COUNT(*) AS pv
  FROM px GROUP BY 1, 2, 3
),
coef AS (
  SELECT cell.doc_id, cu.u AS u, cv.u AS v,
         SUM(cell.pv * cu.c * cv.c) AS c
  FROM cell
  JOIN icos cu ON cu.x = cell.cx
  JOIN icos cv ON cv.x = cell.cy
  GROUP BY 1, 2, 3
),
med AS (
  SELECT doc_id, quantile_disc(c, 0.5) AS m
  FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id
),
sig AS (
  SELECT coef.doc_id,
         string_agg(CASE WHEN coef.c > med.m THEN '1' ELSE '0' END, ''
                    ORDER BY coef.u, coef.v) AS phash
  FROM coef JOIN med USING (doc_id)
  GROUP BY coef.doc_id
)
SELECT doc_id, phash,
       COUNT(*) OVER (PARTITION BY phash) AS n_same_hash
FROM sig
ORDER BY doc_id
""".replace("{ICOS_VALUES}", _icos_values_sql()),
)
def q_multimodal_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-pHash certificate over the REAL codec: encode the
    closed-form image to PNG bytes, decode with the real decoder,
    integer-DCT-hash the pixels, count signature collisions.  The
    oracle recomputes all 64 bits per document from the pixel model +
    the shared integer cosine table in SQL — every stage (scanline
    unfilter, box resample, transform, median, bit order) is
    value-hash-checked.  Near-duplicate robustness (resized images
    landing within small Hamming distance while distinct images stay
    far) is asserted in tests/test_multimodal.py; re-encoded images
    (any scanline filter) hash IDENTICALLY because decode is
    pixel-exact."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    sigs = phash_dct_signatures(attach_png_payload(docs))
    return sigs.select(
        "doc_id",
        "phash",
        F.count("*").over(W.partitionBy("phash")).alias("n_same_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Mixed-format corpus (VERDICT r6 task 5): PNG + PGM + baseline JPEG.
# PNG/PGM are lossless (pixels = the closed-form model); JPEG is lossy
# but its integer transform makes the decoded pixels a CLOSED-FORM
# function of the model, so every format stays value-hash-certified.
# decode_any is the format-dispatch seam a PIL/libvips deployment
# replaces wholesale (same mapInPandas slot, same magic-byte sniff).
# ---------------------------------------------------------------------------

from ..functions.jpeg import (  # noqa: E402
    FDCT_DEN,
    JCOS,
    QTABLE,
    decode_jpeg,
    encode_jpeg,
)
from ..functions.pgm import decode_pgm, encode_pgm  # noqa: E402

_JPEG_HALF = FDCT_DEN // 2


def doc_format(doc_id: int) -> str:
    return ("png", "pgm", "jpeg")[doc_id % 3]


def encode_any(arr: np.ndarray, fmt: str, doc_id: int) -> bytes:
    if fmt == "png":
        return encode_png(arr, filter_type=doc_id % 5)
    if fmt == "pgm":
        return encode_pgm(arr)
    return encode_jpeg(arr)


def decode_any(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch over the three real codecs — the seam where
    a production pipeline drops in PIL/libvips."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:2] == b"P5":
        return decode_pgm(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    raise ValueError(f"unknown image container (head {payload[:4]!r})")


def attach_mixed_payload(documents: DataFrame) -> DataFrame:
    """One real image file per document, container by doc_id % 3."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                fmt = doc_format(d)
                fmts.append(fmt)
                payloads.append(encode_any(synthetic_image(d), fmt, d))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "fmt": fmts, "payload": payloads}
            )

    return spread(documents.select("doc_id")).mapInPandas(
        encode_batches, schema="doc_id long, fmt string, payload binary"
    )


def attach_jpeg_payload(documents: DataFrame) -> DataFrame:
    """Every document as a real baseline JPEG (for the roundtrip
    certificate, which wants the lossy path on every row)."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_jpeg(synthetic_image(int(d))) for d in pdf["doc_id"]
                    ],
                }
            )

    return spread(documents.select("doc_id")).mapInPandas(
        encode_batches, schema="doc_id long, payload binary"
    )


def _jcos_values_sql() -> str:
    return ",\n  ".join(
        f"({u}, {x}, {c})" for u, row in enumerate(JCOS) for x, c in enumerate(row)
    )


def _qt_values_sql() -> str:
    return ",\n  ".join(
        f"({i // 8}, {i % 8}, CAST({q} AS BIGINT))" for i, q in enumerate(QTABLE)
    )


def _jpeg_pixels_ctes(doc_filter: str = "TRUE", frames_expr: str = "1") -> str:
    """The shared oracle fragment predicting every JPEG-decoded pixel:
    pad(edge-replicate) → integer FDCT → quantize(round half away from
    zero, on absolute values so DuckDB trunc-div and Python floor-div
    agree) → dequantize → integer IDCT → clamp.  The entropy layer
    (zigzag, DC prediction, Huffman, byte stuffing) is lossless and
    cancels — which is exactly why a Spark/oracle hash match certifies
    the REAL bitstream decode on the Spark side.

    ``frames_expr`` is the per-document frame count (in terms of the
    ``documents`` row ``d``): images pass the default 1 (k pinned to
    0, the +k*97 model term vanishing), the MJPEG video path passes
    its frame-count expression and every stage carries the frame key.
    """
    return f"""jcos(u, x, c) AS (VALUES
  {_jcos_values_sql()}
),
qt(r, c, q) AS (VALUES
  {_qt_values_sql()}
),
jdims AS (
  SELECT d.doc_id, fr.k, 16 + d.doc_id % 17 AS w, 16 + d.doc_id % 13 AS h
  FROM documents d, UNNEST(range(0, {frames_expr})) AS fr(k)
  WHERE {doc_filter}
),
jpx AS (
  SELECT d.doc_id, d.k, d.w, d.h, t.x, u_.y,
         (d.doc_id * 31 + d.k * 97
          + LEAST(t.x, d.w - 1) * 7 + LEAST(u_.y, d.h - 1) * 13)
           % 256 - 128 AS b
  FROM jdims d,
       UNNEST(range(0, ((d.w + 7) // 8) * 8)) AS t(x),
       UNNEST(range(0, ((d.h + 7) // 8) * 8)) AS u_(y)
),
fdct AS (
  SELECT jpx.doc_id, jpx.k, jpx.x // 8 AS bx, jpx.y // 8 AS by,
         cu.u AS u, cv.u AS v,
         CAST(SUM(jpx.b * cu.c * cv.c) AS BIGINT) AS f
  FROM jpx
  JOIN jcos cu ON cu.x = jpx.x % 8
  JOIN jcos cv ON cv.x = jpx.y % 8
  GROUP BY 1, 2, 3, 4, 5, 6
),
quant AS (
  -- Annex K table row index = VERTICAL frequency v, col = horizontal u
  -- (T.81 S[v][u] layout — the same orientation encode_jpeg quantizes in)
  SELECT f.doc_id, f.k, f.bx, f.by, f.u, f.v,
         (CASE WHEN f.f >= 0
               THEN  ( f.f + (qt.q * {FDCT_DEN}) // 2) // (qt.q * {FDCT_DEN})
               ELSE -((-f.f + (qt.q * {FDCT_DEN}) // 2) // (qt.q * {FDCT_DEN}))
          END) * qt.q AS cdeq
  FROM fdct f JOIN qt ON qt.r = f.v AND qt.c = f.u
),
idct AS (
  SELECT q.doc_id, q.k, q.bx, q.by, cx.x AS lx, cy.x AS ly,
         CAST(SUM(q.cdeq * cx.c * cy.c) AS BIGINT) AS s
  FROM quant q
  JOIN jcos cx ON cx.u = q.u
  JOIN jcos cy ON cy.u = q.v
  GROUP BY 1, 2, 3, 4, 5, 6
),
jpixels AS (
  SELECT i.doc_id, i.k, d.w, d.h,
         i.bx * 8 + i.lx AS x, i.by * 8 + i.ly AS y,
         GREATEST(0, LEAST(255,
           (CASE WHEN i.s >= 0
                 THEN  ( i.s + {_JPEG_HALF}) // {FDCT_DEN}
                 ELSE -((-i.s + {_JPEG_HALF}) // {FDCT_DEN})
            END) + 128)) AS p
  FROM idct i JOIN jdims d ON d.doc_id = i.doc_id AND d.k = i.k
)"""


@register(
    "multimodal_jpeg_roundtrip",
    oracle=f"""
WITH {_jpeg_pixels_ctes()}
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(SUM(p) AS BIGINT) AS px_sum
FROM jpixels WHERE x < w AND y < h
GROUP BY doc_id, w, h
ORDER BY doc_id
""",
)
def q_multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG certificate: encode every document's model image to a REAL
    baseline-JPEG bitstream (markers, zigzag, DC prediction, standard
    Annex-K Huffman tables, byte stuffing), decode it with the real
    decoder, and emit the decoded dimensions and pixel sum.  The
    oracle predicts the decoded pixels purely from the model + the
    shared integer transform constants — it never sees the bitstream,
    so a hash match proves the whole entropy layer is lossless and the
    transform arithmetic agrees bit-for-bit."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [decode_jpeg(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [a.shape[1] for a in arrs],
                    "height": [a.shape[0] for a in arrs],
                    "px_sum": [int(a.sum(dtype=np.int64)) for a in arrs],
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return attach_jpeg_payload(docs).mapInPandas(
        decode_batches, schema="doc_id long, width int, height int, px_sum long"
    ).orderBy("doc_id")


@register(
    "multimodal_phash_mixed",
    oracle=f"""
WITH {_jpeg_pixels_ctes("doc_id % 3 = 2")},
icos(u, x, c) AS (VALUES
  {_icos_values_sql()}
),
dims AS (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h FROM documents),
pixels_all AS (
  SELECT doc_id, w, h, x, y, p FROM jpixels WHERE x < w AND y < h
  UNION ALL
  SELECT d.doc_id, d.w, d.h, t.x, u_.y,
         (d.doc_id * 31 + t.x * 7 + u_.y * 13) % 256 AS p
  FROM dims d,
       UNNEST(range(0, 16 + d.doc_id % 17)) AS t(x),
       UNNEST(range(0, 16 + d.doc_id % 13)) AS u_(y)
  WHERE d.doc_id % 3 <> 2
),
cell AS (
  SELECT doc_id, (x * {DCT_N}) // w AS cx, (y * {DCT_N}) // h AS cy,
         (SUM(p) * {DCT_AVG_SCALE}) // COUNT(*) AS pv
  FROM pixels_all GROUP BY 1, 2, 3
),
coef AS (
  SELECT cell.doc_id, cu.u AS u, cv.u AS v,
         SUM(cell.pv * cu.c * cv.c) AS c
  FROM cell
  JOIN icos cu ON cu.x = cell.cx
  JOIN icos cv ON cv.x = cell.cy
  GROUP BY 1, 2, 3
),
med AS (
  SELECT doc_id, quantile_disc(c, 0.5) AS m
  FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id
),
sig AS (
  SELECT coef.doc_id,
         string_agg(CASE WHEN coef.c > med.m THEN '1' ELSE '0' END, ''
                    ORDER BY coef.u, coef.v) AS phash
  FROM coef JOIN med USING (doc_id)
  GROUP BY coef.doc_id
)
SELECT doc_id,
       CASE (doc_id % 3) WHEN 0 THEN 'png' WHEN 1 THEN 'pgm' ELSE 'jpeg' END AS fmt,
       phash,
       COUNT(*) OVER (PARTITION BY phash) AS n_same_hash
FROM sig
ORDER BY doc_id
""",
)
def q_multimodal_phash_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pHash certificate over a MIXED-format corpus: PNG, PGM and
    baseline-JPEG payloads side by side, decoded through the
    magic-byte dispatch (``decode_any``) and DCT-hashed identically.
    PNG/PGM docs hash the exact model pixels; JPEG docs hash the
    lossy-roundtrip pixels the oracle independently predicts through
    the integer transform chain.  One wrong branch in the dispatch, a
    codec, or the JPEG arithmetic breaks the value hash."""
    from pyspark.sql import Window as W

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": pdf["fmt"],
                    "phash": [
                        phash_dct_bits(decode_any(p)) for p in pdf["payload"]
                    ],
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    sigs = attach_mixed_payload(docs).mapInPandas(
        hash_batches, schema="doc_id long, fmt string, phash string"
    )
    return sigs.select(
        "doc_id",
        "fmt",
        "phash",
        F.count("*").over(W.partitionBy("phash")).alias("n_same_hash"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Audio modality: real WAV (RIFF PCM16) payloads + frame features.
# Waveform model (integer, shared verbatim with the SQL oracle):
#   n_samples = 800 + doc_id % 400         (0.1-0.15 s at 8 kHz)
#   sample[i] = ((doc_id * 37 + i * 17) % 4001) - 2000   (int16 range)
# Features are EXACT integers — frame energy is a sum of squares,
# zero crossings a sign-change count — so no float summation order
# can diverge between the engines.
# ---------------------------------------------------------------------------

from ..functions.wav import decode_wav, encode_wav  # noqa: E402

AUDIO_RATE = 8000
AUDIO_FRAME = 200  # 25 ms frames at 8 kHz — the standard speech hop


def synthetic_audio(doc_id: int) -> np.ndarray:
    n = 800 + doc_id % 400
    i = np.arange(n, dtype=np.int64)
    return (((doc_id * 37 + i * 17) % 4001) - 2000).astype(np.int16)


def attach_wav_payload(documents: DataFrame) -> DataFrame:
    """One real mono PCM16 WAV per document."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_wav(synthetic_audio(int(d)), AUDIO_RATE)
                        for d in pdf["doc_id"]
                    ],
                }
            )

    return spread(documents.select("doc_id")).mapInPandas(
        encode_batches, schema="doc_id long, payload binary"
    )


def audio_frame_features(with_payload: DataFrame) -> DataFrame:
    """mapInPandas 1:N fan-out: decode the WAV, split into
    ``AUDIO_FRAME``-sample frames (tail partial frame kept), and emit
    per-frame integer features: energy = Σ s², zero crossings =
    #(i>frame start: sign(s[i]) != sign(s[i-1])) with sign(0) counted
    as non-negative.  The batch shape (decode once, window with numpy,
    emit frames columnar) is the standard speech-pipeline front end —
    a real featurizer (FBANK/MFCC) drops into the same slot."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies, zcs, rates = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                s, rate = decode_wav(p)
                s64 = s.astype(np.int64)
                nonneg = s64 >= 0
                n_frames = (len(s64) + AUDIO_FRAME - 1) // AUDIO_FRAME
                for k in range(n_frames):
                    f = s64[k * AUDIO_FRAME : (k + 1) * AUDIO_FRAME]
                    fn = nonneg[k * AUDIO_FRAME : (k + 1) * AUDIO_FRAME]
                    ids.append(doc_id)
                    idxs.append(k)
                    energies.append(int((f * f).sum()))
                    zcs.append(int((fn[1:] != fn[:-1]).sum()))
                    rates.append(rate)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "energy": energies,
                    "zero_crossings": zcs,
                    "rate": rates,
                }
            )

    return with_payload.mapInPandas(
        frame_batches,
        schema="doc_id long, frame_idx int, energy long, zero_crossings int, rate int",
    )


@register(
    "multimodal_audio_features",
    oracle=f"""
WITH samples AS (
  SELECT d.doc_id, t.i,
         ((d.doc_id * 37 + t.i * 17) % 4001) - 2000 AS s
  FROM documents d,
       UNNEST(range(0, 800 + d.doc_id % 400)) AS t(i)
)
SELECT doc_id,
       CAST(i // {AUDIO_FRAME} AS INTEGER) AS frame_idx,
       CAST(SUM(s * s) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN i % {AUDIO_FRAME} > 0
                      AND (s >= 0) <> ((((doc_id * 37 + (i - 1) * 17) % 4001) - 2000) >= 0)
                     THEN 1 ELSE 0 END) AS INTEGER) AS zero_crossings,
       {AUDIO_RATE} AS rate
FROM samples
GROUP BY doc_id, i // {AUDIO_FRAME}
ORDER BY doc_id, frame_idx
""",
)
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio front end over REAL WAV files: encode the integer waveform
    model to RIFF PCM16 bytes, decode with the real chunk-walking
    parser, frame, and emit exact-integer energy + zero-crossing
    features.  The oracle recomputes every frame straight from the
    waveform model — a wrong header field, byte order, or frame
    boundary breaks the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    return audio_frame_features(attach_wav_payload(docs)).orderBy(
        "doc_id", "frame_idx"
    )


AUDIO_FP_ORACLE = f"""
WITH samples AS (
  SELECT d.doc_id, t.i,
         ((d.doc_id * 37 + t.i * 17) % 4001) - 2000 AS s
  FROM documents d,
       UNNEST(range(0, 800 + d.doc_id % 400)) AS t(i)
),
frames AS (
  SELECT doc_id, CAST(i // {AUDIO_FRAME} AS INTEGER) AS frame_idx,
         CAST(SUM(s * s) AS BIGINT) AS energy
  FROM samples GROUP BY doc_id, i // {AUDIO_FRAME}
),
bits AS (
  SELECT doc_id, frame_idx, energy,
         LEAD(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS nxt
  FROM frames
),
fp AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INTEGER) AS n_frames,
         CAST(COALESCE(SUM(CASE WHEN nxt IS NOT NULL AND nxt > energy
                                THEN CAST(POW(2, frame_idx) AS BIGINT)
                                ELSE 0 END), 0) AS BIGINT) AS fingerprint
  FROM bits GROUP BY doc_id
)
SELECT n_frames, fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_clips,
       CAST(MIN(doc_id) AS BIGINT) AS representative_doc_id
FROM fp
GROUP BY n_frames, fingerprint
ORDER BY n_frames, fingerprint
"""


@register("multimodal_audio_fingerprint_dedup", oracle=AUDIO_FP_ORACLE)
def q_multimodal_audio_fingerprint_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio fingerprint dedup census over REAL WAV files — the
    Haitsma-Kalker robust-hash shape reduced to the features this
    fixture\'s waveform model supports (per-frame energy instead of
    per-band spectral energy; a real front end swaps FBANK into the
    same slot): bit k = energy rose from frame k to k+1, bits packed
    into one BIGINT per clip, clips grouped by (n_frames,
    fingerprint).  Each bucket is a near-duplicate audio group with
    its representative clip — the audio twin of the image family\'s
    pHash dedup row.

    Scale shape: decode + frame + fingerprint are ONE Arrow map pass
    per clip (the existing audio front end plus a per-doc window over
    ≤6 frames); the census is a ≤|buckets|-key hash aggregate with
    map-side partials.  Exact integers end to end — the oracle
    recomputes every frame energy straight from the waveform model,
    so a wrong RIFF field, byte order, frame boundary, or bit-pack
    order breaks the hash."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    frames = audio_frame_features(attach_wav_payload(docs))
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    bits = frames.withColumn("nxt", F.lead("energy").over(w))
    fp = bits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("nxt").isNotNull() & (F.col("nxt") > F.col("energy")),
                    # shiftleft() needs a literal bit count in the
                    # python API; the SQL form takes the column
                    F.expr("shiftleft(CAST(1 AS BIGINT), frame_idx)"),
                ).otherwise(F.lit(0).cast("long"))
            ),
            F.lit(0).cast("long"),
        ).alias("fingerprint"),
    )
    return (
        fp.groupBy("n_frames", "fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.min("doc_id").cast("long").alias("representative_doc_id"),
        )
        .orderBy("n_frames", "fingerprint")
    )


# ---------------------------------------------------------------------------
# Real VIDEO path: MJPEG frames in an AVI container (functions/avi.py).
# Frame model extends the image model with a per-frame term:
#   frame k pixel[y, x] = (doc_id*31 + k*97 + x*7 + y*13) % 256
#   n_frames = 2 + doc_id % 3
# Frames are REAL baseline JPEGs, so the frame pixels are predictable
# through the same integer transform chain as the still-image path —
# the video certificate composes container walk + JPEG entropy decode
# + transform arithmetic into one value hash.
# ---------------------------------------------------------------------------

from ..functions.avi import decode_mjpeg_avi, encode_mjpeg_avi  # noqa: E402

VIDEO_FPS = 10


def synthetic_frame(doc_id: int, k: int) -> np.ndarray:
    w, h = 16 + doc_id % 17, 16 + doc_id % 13
    x = (np.arange(w, dtype=np.int64) * 7)[None, :]
    y = (np.arange(h, dtype=np.int64) * 13)[:, None]
    return ((doc_id * 31 + k * 97 + x + y) % 256).astype(np.uint8)


def video_frame_count(doc_id: int) -> int:
    return 2 + doc_id % 3


def attach_avi_payload(documents: DataFrame) -> DataFrame:
    """One real MJPEG-AVI clip per document (2-4 JPEG frames)."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                frames = [
                    encode_jpeg(synthetic_frame(d, k))
                    for k in range(video_frame_count(d))
                ]
                img = synthetic_frame(d, 0)
                payloads.append(
                    encode_mjpeg_avi(
                        frames, img.shape[1], img.shape[0], VIDEO_FPS
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return spread(documents.select("doc_id")).mapInPandas(
        encode_batches, schema="doc_id long, payload binary"
    )


@register(
    "multimodal_video_frames",
    oracle=f"""
WITH {_jpeg_pixels_ctes(frames_expr="2 + d.doc_id % 3")}
SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(SUM(p) AS BIGINT) AS px_sum
FROM jpixels WHERE x < w AND y < h
GROUP BY doc_id, k, w, h
ORDER BY doc_id, frame_idx
""",
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL video path (upgrading the digest stand-in of
    ``multimodal_frame_sample``): encode each document's frames as
    baseline JPEGs inside a structurally correct MJPEG AVI, then walk
    the RIFF movi list, entropy-decode every frame, and emit per-frame
    decoded dimensions + pixel sums.  The oracle predicts each frame's
    pixels through the shared integer transform chain keyed by
    (doc_id, frame) — a wrong chunk offset, frame order, or any JPEG
    stage breaks the value hash."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, sums = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for k, fbytes in enumerate(decode_mjpeg_avi(p)):
                    arr = decode_jpeg(fbytes)
                    ids.append(doc_id)
                    idxs.append(k)
                    ws.append(arr.shape[1])
                    hs.append(arr.shape[0])
                    sums.append(int(arr.sum(dtype=np.int64)))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "width": ws,
                    "height": hs,
                    "px_sum": sums,
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return attach_avi_payload(docs).mapInPandas(
        decode_batches,
        schema="doc_id long, frame_idx int, width int, height int, px_sum long",
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# Real-FILE read seam (VERDICT r7 task 5): every modality query above
# synthesizes payloads in-query; THIS one exercises the production
# read path — a corpus DIRECTORY of real image/audio files scanned via
# Spark's binaryFile source, magic-byte dispatched, decoded, and
# feature-hashed by the same integer oracles.  The corpus is written
# ONCE per sf (a build-once artifact-store entry) by the
# EXECUTORS (mapInPandas writer — on a cluster the same code writes to
# the shared object store), so the per-run cost is the binaryFile scan
# itself.
# ---------------------------------------------------------------------------

from pathlib import Path as _Path  # noqa: E402

_BINARY_EXT = {"png": "png", "pgm": "pgm", "jpeg": "jpg", "wav": "wav", "avi": "avi"}
AVI_EVERY = 5  # every 5th document also gets an MJPEG-AVI clip


def _corpus_writer(root: str):
    """mapInPandas stage that writes one real file per row — the
    executor-side write half of the seam (object-store put in
    production).  Emits per-batch file counts so the caller can force
    execution with a tiny aggregate."""

    def write_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = 0
            for d, fmt, payload in zip(
                pdf["doc_id"], pdf["fmt"], pdf["payload"]
            ):
                kind = {"wav": "aud", "avi": "vid"}.get(fmt, "img")
                name = f"doc_{int(d):08d}_{kind}.{_BINARY_EXT[fmt]}"
                (_Path(root) / name).write_bytes(bytes(payload))
                n += 1
            yield pd.DataFrame({"n_written": [n]})

    return write_batches


def binary_corpus_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build-once real-file corpus for ``sf_dir``: one image per
    document (PNG/PGM/JPEG by doc_id % 3), one WAV per document, and
    one MJPEG-AVI clip per AVI_EVERY-th document — all four modalities
    on the real-file read path."""

    def build(out: str) -> dict:
        os.mkdir(out)
        docs = load_table(spark, sf_dir, "documents")
        imgs = attach_mixed_payload(docs)
        wavs = attach_wav_payload(docs).select(
            "doc_id", F.lit("wav").alias("fmt"), "payload"
        )
        avis = attach_avi_payload(
            docs.where(F.col("doc_id") % AVI_EVERY == 0)
        ).select("doc_id", F.lit("avi").alias("fmt"), "payload")
        written = (
            imgs.unionByName(wavs).unionByName(avis)
            .mapInPandas(_corpus_writer(out), schema="n_written long")
            .agg(F.sum("n_written").alias("n"))
            .first()["n"]
        )
        return {"n_files": int(written)}

    sources = [table_path(sf_dir, "documents")]
    return load_or_build("binary_corpus", {"v": 2}, sources, build)[0]


@register(
    "multimodal_binaryfile_scan",
    oracle=f"""
WITH {_jpeg_pixels_ctes(
        "(doc_id % 3 = 2) OR (doc_id % 5 = 0)", "2 + d.doc_id % 3"
    )},
bdims AS (
  SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h FROM documents
),
exact_img AS (
  SELECT d.doc_id,
         CASE (d.doc_id % 3) WHEN 0 THEN 'png' ELSE 'pgm' END AS fmt,
         CAST(d.w * d.h AS BIGINT) AS n_values,
         CAST(SUM((d.doc_id * 31 + t.x * 7 + u_.y * 13) % 256) AS BIGINT)
           AS val_sum
  FROM bdims d,
       UNNEST(range(0, d.w)) AS t(x),
       UNNEST(range(0, d.h)) AS u_(y)
  WHERE d.doc_id % 3 <> 2
  GROUP BY 1, 2, d.w, d.h
),
jpeg_img AS (
  -- a still JPEG's pixels equal frame k=0 of the shared model
  SELECT doc_id, 'jpeg' AS fmt, CAST(w * h AS BIGINT) AS n_values,
         CAST(SUM(p) AS BIGINT) AS val_sum
  FROM jpixels WHERE x < w AND y < h AND k = 0 AND doc_id % 3 = 2
  GROUP BY doc_id, w, h
),
avi_vid AS (
  SELECT doc_id, 'avi' AS fmt,
         CAST((2 + doc_id % 3) * w * h AS BIGINT) AS n_values,
         CAST(SUM(p) AS BIGINT) AS val_sum
  FROM jpixels WHERE x < w AND y < h AND doc_id % 5 = 0
  GROUP BY doc_id, w, h
),
wav_samples AS (
  SELECT d.doc_id, ((d.doc_id * 37 + t.i * 17) % 4001) - 2000 AS s
  FROM documents d, UNNEST(range(0, 800 + d.doc_id % 400)) AS t(i)
),
wav_feats AS (
  SELECT doc_id, 'wav' AS fmt, CAST(COUNT(*) AS BIGINT) AS n_values,
         CAST(SUM(s * s) AS BIGINT) AS val_sum
  FROM wav_samples GROUP BY doc_id
)
SELECT doc_id, fmt, n_values, val_sum FROM (
  SELECT * FROM exact_img
  UNION ALL SELECT * FROM jpeg_img
  UNION ALL SELECT * FROM avi_vid
  UNION ALL SELECT * FROM wav_feats
)
ORDER BY doc_id, fmt
""",
)
def q_multimodal_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production read seam end to end: scan a directory of REAL
    files with ``spark.read.format("binaryFile")``, dispatch on magic
    bytes (PNG/PGM/JPEG images, RIFF WAVE audio, RIFF AVI video — all
    four modalities), decode with the real codecs, and emit per-file
    integer features (pixel count + sum for images and video frames —
    JPEG through the lossy-roundtrip prediction — sample count +
    energy for audio).  The oracle predicts every feature from
    the synthetic models alone; a wrong file body, a mis-parsed path,
    a dropped file, or any codec bug breaks the value hash.  At 100 TB
    the binaryFile scan parallelizes by file across executors and the
    decode stays in the same Arrow-batched mapInPandas slot."""
    root = binary_corpus_dir(spark, sf_dir)
    # Scale-adaptive task sizing (r17, guide §6/§2.2): binaryFile charges
    # every file spark.sql.files.openCostInBytes (4 MB) when packing
    # splits, so thousands of tiny fixture files exploded into ~344 scan
    # tasks whose per-task Python-boundary overhead dwarfed the decode
    # (measured: a TRIVIAL mapInPandas over the scan cost 3.27 s at 344
    # tasks vs 0.57 s at 32).  Coalesce (no shuffle) to the BYTE-derived
    # partition count — total corpus bytes / 128 MB, floored at the
    # session's parallelism — which leaves real large corpora untouched
    # (their byte-derived count exceeds the scan's) and only collapses
    # the open-cost padding (coalesce never raises the partition count).
    # The byte total is driver-side metadata, no Spark job; the scandir
    # sum assumes a FLAT LOCAL directory, which the store entry guarantees.
    corpus_bytes = sum(e.stat().st_size for e in os.scandir(root))
    target_parts = max(
        spark.sparkContext.defaultParallelism,
        -(-corpus_bytes // (128 * 1024 * 1024)),
    )
    files = spark.read.format("binaryFile").load(root).coalesce(target_parts)
    files = files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)_", 1)
        .cast("long")
        .alias("doc_id"),
        "content",
    )

    def feat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, nvals, sums = [], [], [], []
            for d, content in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(content)
                if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    frames = [decode_jpeg(fb) for fb in decode_mjpeg_avi(b)]
                    fmts.append("avi")
                    nvals.append(sum(a.size for a in frames))
                    sums.append(
                        sum(int(a.sum(dtype=np.int64)) for a in frames)
                    )
                elif b[:4] == b"RIFF":
                    s, _rate = decode_wav(b)
                    s64 = s.astype(np.int64)
                    fmts.append("wav")
                    nvals.append(len(s64))
                    sums.append(int((s64 * s64).sum()))
                else:
                    arr = decode_any(b)
                    if b[:8] == b"\x89PNG\r\n\x1a\n":
                        fmts.append("png")
                    elif b[:2] == b"P5":
                        fmts.append("pgm")
                    else:
                        fmts.append("jpeg")
                    nvals.append(int(arr.size))
                    sums.append(int(arr.sum(dtype=np.int64)))
                ids.append(d)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "fmt": fmts,
                    "n_values": nvals,
                    "val_sum": sums,
                }
            )

    return files.mapInPandas(
        feat_batches,
        schema="doc_id long, fmt string, n_values long, val_sum long",
    ).orderBy("doc_id", "fmt")
