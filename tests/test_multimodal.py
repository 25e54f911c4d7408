"""Multimodal plumbing + the real PNG codec: round-trips over every
scanline filter, batch shapes, and the decode-certificate pipeline."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from mcp_server_vector_search_spark.functions.png import (
    decode_png,
    encode_png,
    nn_resize,
)
from mcp_server_vector_search_spark.sources.multimodal import (
    FRAME_BYTES,
    attach_binary_payload,
    attach_png_payload,
    extract_metadata,
    resize_images,
    sample_frames,
    synthetic_image,
)
from mcp_server_vector_search_spark.sources.tables import load_table

from .conftest import SF_SMOKE


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_grey_all_filters(ftype):
    rng = np.random.default_rng(100 + ftype)
    arr = rng.integers(0, 256, size=(23, 31), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(arr, ftype)), arr)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_rgb_all_filters(ftype):
    rng = np.random.default_rng(200 + ftype)
    arr = rng.integers(0, 256, size=(17, 19, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(arr, ftype)), arr)


def test_png_decode_split_idat():
    """The spec allows the compressed stream to be split across IDAT
    chunks arbitrarily — reassemble before inflate."""
    arr = np.arange(64, dtype=np.uint8).reshape(8, 8)
    payload = encode_png(arr)
    sig = payload[:8]
    # reparse chunks, split the single IDAT into two
    pos, chunks = 8, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        chunks.append((typ, data))
        pos += 12 + length

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    out = sig
    for typ, data in chunks:
        if typ == b"IDAT":
            mid = len(data) // 2
            out += chunk(b"IDAT", data[:mid]) + chunk(b"IDAT", data[mid:])
        else:
            out += chunk(typ, data)
    assert np.array_equal(decode_png(out), arr)


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not actually an image")


def test_nn_resize_floor_mapping():
    arr = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = nn_resize(arr, 2, 2)
    # out[y, x] = in[y*3//2, x*4//2]
    assert out.tolist() == [[arr[0, 0], arr[0, 2]], [arr[1, 0], arr[1, 2]]]


def test_synthetic_image_model():
    arr = synthetic_image(5)
    assert arr.shape == (16 + 5 % 13, 16 + 5 % 17)
    assert arr[2, 3] == (5 * 31 + 3 * 7 + 2 * 13) % 256


def test_metadata_decodes_real_pngs(spark):
    """The metadata operator must report dimensions/pixel sums from a
    REAL decode of the PNG bytes, matching the closed-form model."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(25)
    meta = extract_metadata(attach_png_payload(docs)).collect()
    assert len(meta) == 25
    for r in meta:
        d = r["doc_id"]
        img = synthetic_image(d)
        assert (r["width"], r["height"]) == (img.shape[1], img.shape[0])
        assert r["px_sum"] == int(img.sum(dtype=np.int64))
        assert r["byte_len"] > 0 and len(r["sha256"]) == 64


def test_resize_output_is_valid_png(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(10)
    out = resize_images(attach_png_payload(docs), 32, 24).collect()
    assert len(out) == 10
    for r in out:
        arr = decode_png(bytes(r["payload"]))
        assert arr.shape == (24, 32)
        want = nn_resize(synthetic_image(r["doc_id"]), 32, 24)
        assert np.array_equal(arr, want)


def test_frame_fanout_count(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    payloads = {r["doc_id"]: r["text"] for r in docs.collect()}
    frames = sample_frames(attach_binary_payload(docs))
    per_doc = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for doc_id, text in payloads.items():
        assert per_doc[doc_id] == 1 + len(text.encode()) // FRAME_BYTES


def _smooth_image(seed: int, w: int = 48, h: int = 40) -> np.ndarray:
    """Deterministic natural-image-like content: a few low/mid
    frequency cosine components with decaying amplitude.  The corpus's
    mod-256 sawtooth model is deliberately adversarial for perceptual
    hashing (aliasing noise), so robustness is asserted on content the
    hash is designed for."""
    rng = np.random.default_rng(seed)
    comps = rng.uniform(0.5, 4.0, (6, 2))
    phs = rng.uniform(0, 2 * np.pi, (6, 2))
    amps = 50 / (1 + np.arange(6))
    x = np.linspace(0, 2 * np.pi, w)[None, :]
    y = np.linspace(0, 2 * np.pi, h)[:, None]
    img = 128 + sum(
        a * (np.cos(f[0] * x + p[0]) * np.cos(f[1] * y + p[1]))
        for a, f, p in zip(amps, comps, phs)
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def _hamming(a: str, b: str) -> int:
    return sum(x != y for x, y in zip(a, b))


def test_phash_dct_reencode_is_exact():
    """Re-encoding with any scanline filter must hash IDENTICALLY —
    decode is pixel-exact, so re-encoded duplicates group with their
    originals at Hamming distance zero."""
    from mcp_server_vector_search_spark.sources.multimodal import (
        phash_dct_bits,
    )

    for d in range(0, 25, 5):
        img = synthetic_image(d)
        base = phash_dct_bits(img)
        for flt in range(5):
            rt = decode_png(encode_png(img, filter_type=flt))
            assert phash_dct_bits(rt) == base


def test_phash_dct_resize_robustness():
    """Planted near-duplicates (same image at 3/4 scale) stay within
    small Hamming distance of their originals, while distinct images
    stay far — the grouping property that makes the DCT hash a NEAR-dup
    tool where aHash point sampling is an exact-dup tool."""
    import itertools

    from mcp_server_vector_search_spark.sources.multimodal import (
        phash_dct_bits,
    )

    seeds = list(range(12))
    sigs = {s: phash_dct_bits(_smooth_image(s)) for s in seeds}
    for s in seeds:
        resized = nn_resize(_smooth_image(s), 36, 30)
        assert _hamming(sigs[s], phash_dct_bits(resized)) <= 12
    for a, b in itertools.combinations(seeds, 2):
        assert _hamming(sigs[a], sigs[b]) >= 16


def test_phash_dct_rejects_undersized_and_rgb():
    from mcp_server_vector_search_spark.sources.multimodal import (
        box_resize_scaled,
    )

    with pytest.raises(ValueError):
        box_resize_scaled(np.zeros((8, 20), dtype=np.uint8))
    with pytest.raises(ValueError):
        box_resize_scaled(np.zeros((20, 20, 3), dtype=np.uint8))


def test_binaryfile_scan_reads_real_files(spark):
    """The production read seam: the plan must contain an actual
    binaryFile FileScan (not an in-query synthesized payload), the
    corpus directory must hold one image + one wav per document, and
    re-running must reuse the build-once cache."""
    from pathlib import Path

    from mcp_server_vector_search_spark import artifacts
    from mcp_server_vector_search_spark.plans.explain import formatted_plan
    from mcp_server_vector_search_spark.sources.multimodal import (
        binary_corpus_dir,
        q_multimodal_binaryfile_scan,
    )
    from mcp_server_vector_search_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    root = Path(binary_corpus_dir(spark, sf))
    n_docs = load_table(spark, sf, "documents").count()
    n_avi = (n_docs + 4) // 5  # doc_ids 0..n-1 divisible by 5
    files = sorted(p.name for p in root.iterdir())
    assert len(files) == 2 * n_docs + n_avi
    assert any(f.endswith(".wav") for f in files)
    assert any(f.endswith(".avi") for f in files)
    assert any(f.endswith((".png", ".pgm", ".jpg")) for f in files)

    df = q_multimodal_binaryfile_scan(spark, sf)
    plan = formatted_plan(df)
    assert "binaryfile" in plan.lower()
    assert df.count() == 2 * n_docs + n_avi
    # build-once: second call must not rebuild
    builds = artifacts.STATS["builds"]
    assert binary_corpus_dir(spark, sf) == str(root)
    assert artifacts.STATS["builds"] == builds


def test_mixed_corpus_pil_parity():
    """The documented PIL/libvips seam, exercised when PIL is present
    (skipped otherwise): PNG and PGM are lossless containers, so PIL's
    decode must be ARRAY-IDENTICAL to the stdlib codecs; JPEG decodes
    may differ per pixel only within the T.81 Annex A IDCT tolerance."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    from mcp_server_vector_search_spark.sources.multimodal import (
        decode_any,
        doc_format,
        encode_any,
        synthetic_image,
    )

    for d in range(12):
        fmt = doc_format(d)
        payload = encode_any(synthetic_image(d), fmt, d)
        ours = decode_any(payload)
        theirs = np.asarray(PIL.open(io.BytesIO(payload)).convert("L"))
        assert theirs.shape == ours.shape, (d, fmt)
        if fmt == "jpeg":
            err = np.abs(theirs.astype(int) - ours.astype(int))
            assert err.max() <= 2, (d, fmt, int(err.max()))
        else:
            assert np.array_equal(theirs, ours), (d, fmt)
