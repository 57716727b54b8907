"""Unit tests for the stdlib-only PNG/WAV codecs (functions/codecs.py).

The decoder is validated against the PNG spec BY CONSTRUCTION: filtered
scanlines for all five filter types are built by hand from the spec's
forward-filter definitions (RFC 2083 §6), assembled into a real
PNG byte stream, and must decode back to the original pixels. No
third-party image library exists in this container to cross-check
against — hand-built spec vectors are the strongest available oracle.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ai_data_pipeline_spark.functions.codecs import (
    bmp_decode,
    bmp_encode_gray,
    png_decode,
    png_encode_gray,
    resize_nearest,
    wav_decode,
    wav_encode_pcm16,
)


def _rng_img(h, w, seed):
    return np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)


# --- property tests: roundtrip identity over arbitrary payloads -----------
# (hypothesis drives shapes AND content; the fixed tests above pin the
# spec layout, these pin the identity law itself)

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 17),
    w=st.integers(1, 23),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_bmp_roundtrip_identity_property(h, w, seed):
    img = _rng_img(h, w, seed)
    png_back, png_meta = png_decode(png_encode_gray(img))
    assert np.array_equal(png_back, img)
    assert (png_meta["width"], png_meta["height"]) == (w, h)
    bmp_back, bmp_meta = bmp_decode(bmp_encode_gray(img))
    assert np.array_equal(bmp_back, img)
    assert (bmp_meta["width"], bmp_meta["height"]) == (w, h)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 700),
    rate=st.sampled_from([8_000, 16_000, 44_100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_identity_property(n, rate, seed):
    s = (
        np.random.default_rng(seed)
        .integers(-(2**15), 2**15, n)
        .astype(np.int16)
    )
    back, got_rate = wav_decode(wav_encode_pcm16(s, rate=rate))
    assert got_rate == rate
    assert np.array_equal(back, s)


def test_png_roundtrip_identity():
    for seed, (h, w) in enumerate([(1, 1), (3, 5), (16, 24), (64, 64), (7, 1)]):
        img = _rng_img(h, w, seed)
        out, meta = png_decode(png_encode_gray(img))
        assert np.array_equal(out, img)
        assert (meta["width"], meta["height"]) == (w, h)
        assert (meta["bit_depth"], meta["color_type"]) == (8, 0)


def _forward_filter(img: np.ndarray, ftypes: list[int]) -> bytes:
    """Spec forward filters (RFC 2083 §6.2-6.6), bpp=1: produce the raw
    pre-compression stream for the given per-scanline filter types."""
    h, w = img.shape
    out = bytearray()
    for y in range(h):
        f = ftypes[y]
        out.append(f)
        prev = img[y - 1].astype(int) if y > 0 else np.zeros(w, dtype=int)
        row = img[y].astype(int)
        for j in range(w):
            a = row[j - 1] if j > 0 else 0  # left (recon == orig here)
            b = prev[j]
            c = prev[j - 1] if j > 0 else 0
            if f == 0:
                v = row[j]
            elif f == 1:
                v = row[j] - a
            elif f == 2:
                v = row[j] - b
            elif f == 3:
                v = row[j] - ((a + b) >> 1)
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = row[j] - pred
            out.append(v & 0xFF)
    return bytes(out)


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _assemble_png(img: np.ndarray, ftypes: list[int]) -> bytes:
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(_forward_filter(img, ftypes)))
        + _chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types_spec_vectors():
    img = _rng_img(10, 13, 42)
    # every scanline exercises a different filter, including 3/4 runs
    ftypes = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]
    out, _ = png_decode(_assemble_png(img, ftypes))
    assert np.array_equal(out, img)


def test_png_decode_multiple_idat_chunks():
    img = _rng_img(6, 8, 7)
    raw = zlib.compress(_forward_filter(img, [0] * 6))
    ihdr = struct.pack(">IIBBBBB", 8, 6, 8, 0, 0, 0, 0)
    data = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", raw[:10])
        + _chunk(b"IDAT", raw[10:])
        + _chunk(b"IEND", b"")
    )
    out, _ = png_decode(data)
    assert np.array_equal(out, img)


def test_png_decode_rejects_corruption():
    img = _rng_img(4, 4, 1)
    data = bytearray(png_encode_gray(img))
    with pytest.raises(ValueError, match="signature"):
        png_decode(b"\x00" + bytes(data[1:]))
    flipped = bytearray(data)
    flipped[40] ^= 0xFF  # inside IDAT body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(flipped))
    with pytest.raises(ValueError, match="truncated"):
        png_decode(bytes(data[:-6]))
    # unsupported: RGB color type
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bad = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported"):
        png_decode(bad)


def test_bmp_roundtrip_identity_all_strides():
    """Every width mod 4 exercises a different padding stride; the
    bottom-up flip must reverse exactly (asymmetric test images)."""
    for w in (21, 22, 23, 24):
        img = _rng_img(7, w, w)
        img[0, 0], img[-1, -1] = 1, 254  # make flip errors visible
        decoded, meta = bmp_decode(bmp_encode_gray(img))
        assert np.array_equal(decoded, img), f"width {w}"
        assert (meta["width"], meta["height"]) == (w, 7)


def test_bmp_encoder_layout_matches_spec():
    """Pin the on-disk layout against the DIB spec by hand: magic,
    header/palette sizes, offset arithmetic, stride padding, and the
    bottom-up scanline order (last row of the image is the FIRST row
    of the pixel array)."""
    img = np.arange(23 * 2, dtype=np.uint8).reshape(2, 23)
    data = bmp_encode_gray(img)
    assert data[:2] == b"BM"
    offset = struct.unpack("<I", data[10:14])[0]
    assert offset == 14 + 40 + 256 * 4
    hdr_size, w, h = struct.unpack("<Iii", data[14:26])
    assert (hdr_size, w, h) == (40, 23, 2)
    stride = 24  # 23 padded to 4 bytes
    assert len(data) == offset + stride * 2
    first_stored_row = np.frombuffer(data[offset : offset + 23], np.uint8)
    assert np.array_equal(first_stored_row, img[1])  # bottom-up


def test_bmp_encode_rejects_empty_image():
    with pytest.raises(ValueError, match="empty"):
        bmp_encode_gray(np.zeros((0, 5), dtype=np.uint8))
    with pytest.raises(ValueError, match="empty"):
        bmp_encode_gray(np.zeros((5, 0), dtype=np.uint8))


def test_bmp_decode_rejects_corruption():
    img = _rng_img(5, 8, 9)
    data = bmp_encode_gray(img)
    with pytest.raises(ValueError, match="magic|truncated"):
        bmp_decode(b"XX" + data[2:])
    with pytest.raises(ValueError, match="truncated"):
        bmp_decode(data[:-3])
    # non-grayscale palette
    tinted = bytearray(data)
    tinted[54] ^= 0x7F  # first palette entry's blue channel
    with pytest.raises(ValueError, match="palette"):
        bmp_decode(bytes(tinted))
    # 24-bit / compressed variants are refused, not mis-decoded
    bad_bpp = bytearray(data)
    struct.pack_into("<H", bad_bpp, 28, 24)
    with pytest.raises(ValueError, match="only 8-bit"):
        bmp_decode(bytes(bad_bpp))
    topdown = bytearray(data)
    struct.pack_into("<i", topdown, 22, -5)
    with pytest.raises(ValueError, match="top-down|dims"):
        bmp_decode(bytes(topdown))


def test_resize_nearest_exact_index_map():
    img = _rng_img(16, 24, 3)
    out = resize_nearest(img, (8, 12))
    assert out.shape == (8, 12)
    for y in range(8):
        for x in range(12):
            assert out[y, x] == img[(y * 16) // 8, (x * 24) // 12]


def test_wav_roundtrip_and_chunk_walk():
    rng = np.random.default_rng(5)
    s = rng.integers(-32768, 32768, 300, dtype=np.int16)
    out, rate = wav_decode(wav_encode_pcm16(s, rate=22_050))
    assert rate == 22_050 and np.array_equal(out, s)
    # decoder must walk unknown chunks (word-aligned) before data
    body = s.astype("<i2").tobytes()
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd len + pad
    data_chunk = b"data" + struct.pack("<I", len(body)) + body
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    riff_body = b"WAVE" + fmt + extra + data_chunk
    data = b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
    out2, rate2 = wav_decode(data)
    assert rate2 == 8000 and np.array_equal(out2, s)


def test_wav_decode_rejects_bad_input():
    s = np.zeros(4, dtype=np.int16)
    good = wav_encode_pcm16(s)
    with pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"JUNK" + good[4:])
    with pytest.raises(ValueError, match="truncated"):
        wav_decode(good[:-3])
    stereo_fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 2, 8000, 32000, 4, 16
    )
    riff_body = b"WAVE" + stereo_fmt
    with pytest.raises(ValueError, match="mono"):
        wav_decode(b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body)


def test_bmp_decode_rejects_offset_into_header():
    """A pixel-array offset pointing INSIDE the header+palette region
    must be rejected (ADVICE r10): without the lower-bound check a
    malformed file silently decodes palette bytes as pixel data."""
    img = _rng_img(4, 4, 11)
    data = bytearray(bmp_encode_gray(img))
    # point the pixel array at byte 54 (inside the palette) and grow the
    # buffer so the truncation check alone would NOT catch it
    struct.pack_into("<I", data, 10, 54)
    data.extend(b"\x00" * 2048)
    struct.pack_into("<I", data, 2, len(data))
    with pytest.raises(ValueError, match="overlaps"):
        bmp_decode(bytes(data))


# --- GIF87a (LZW) -----------------------------------------------------------

from ai_data_pipeline_spark.functions.codecs import (  # noqa: E402
    gif_decode,
    gif_encode_gray,
)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 17),
    w=st.integers(1, 23),
    seed=st.integers(0, 2**31 - 1),
)
def test_gif_roundtrip_identity_property(h, w, seed):
    img = _rng_img(h, w, seed)
    back, meta = gif_decode(gif_encode_gray(img))
    assert np.array_equal(back, img)
    assert (meta["width"], meta["height"]) == (w, h)


def test_gif_roundtrip_survives_dictionary_overflow():
    """A 300x300 structured image drives the LZW dictionary past 4096
    codes, forcing the encoder's mid-stream CLEAR + table reset — the
    code path a small test image never reaches."""
    big = (np.arange(300 * 300) % 251).astype(np.uint8).reshape(300, 300)
    back, _ = gif_decode(gif_encode_gray(big))
    assert np.array_equal(back, big)


def test_gif_constant_image_exercises_self_referential_code():
    """An all-constant image makes the very first table addition be
    immediately re-used (code == next_code — the LZW case where the
    entry is prev + prev[0] and does not exist in the table yet)."""
    const = np.full((16, 16), 7, dtype=np.uint8)
    back, _ = gif_decode(gif_encode_gray(const))
    assert np.array_equal(back, const)


def test_gif_layout_matches_spec():
    """Pin the container layout by hand: signature, logical screen
    descriptor, 256-entry identity palette, image descriptor, LZW min
    code size, sub-block framing, terminator + trailer."""
    img = _rng_img(5, 9, 3)
    data = gif_encode_gray(img)
    assert data[:6] == b"GIF87a"
    w, h, packed, bg, aspect = struct.unpack("<HHBBB", data[6:13])
    assert (w, h, packed, bg, aspect) == (9, 5, 0xF7, 0, 0)
    pal = np.frombuffer(data[13 : 13 + 768], np.uint8).reshape(256, 3)
    assert all(np.array_equal(pal[:, c], np.arange(256)) for c in range(3))
    pos = 13 + 768
    left, top, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
    assert data[pos] == 0x2C and (left, top, iw, ih, ipacked) == (0, 0, 9, 5, 0)
    assert data[pos + 10] == 8  # LZW min code size
    assert data[-1] == 0x3B and data[-2] == 0x00  # trailer after terminator


def test_gif_decode_rejects_corruption():
    img = _rng_img(6, 6, 4)
    data = bytearray(gif_encode_gray(img))
    with pytest.raises(ValueError, match="signature"):
        gif_decode(b"NOTAGIF" + bytes(data))
    # non-identity palette
    bad_pal = bytearray(data)
    bad_pal[13 + 30] ^= 0xFF
    with pytest.raises(ValueError, match="palette"):
        gif_decode(bytes(bad_pal))
    # truncated sub-block chain
    with pytest.raises(ValueError, match="truncated|LZW|trailer"):
        gif_decode(bytes(data[:-6]))
    # corrupt a byte inside the LZW stream: either an invalid code or a
    # wrong pixel count must be detected (identity is checked upstream)
    corrupt = bytearray(data)
    corrupt[13 + 768 + 12] ^= 0x55
    try:
        back, _ = gif_decode(bytes(corrupt))
        assert not np.array_equal(back, img)
    except ValueError:
        pass


# --- the one roundtrip kernel of operators/multimodal.py, without Spark ----

import pandas as pd  # noqa: E402

from ai_data_pipeline_spark.operators.multimodal import (  # noqa: E402
    _CODECS,
    _roundtrip_batches,
)


def test_roundtrip_kernel_raises_on_broken_identity():
    """A codec whose decode flips one sample must fail the batch, naming
    the codec and the doc, instead of emitting plausible features."""

    def flip_one_sample(x):
        decoded, meta = _CODECS["wav"].roundtrip(x)
        decoded = decoded.copy()
        decoded[3] ^= 1
        return decoded, meta

    broken = _CODECS["wav"]._replace(roundtrip=flip_one_sample)
    batch = pd.DataFrame({"doc_id": [42, 7]})
    with pytest.raises(ValueError, match="WAV roundtrip broke identity for doc 42"):
        list(_roundtrip_batches(iter([batch]), broken))


def test_roundtrip_kernel_empty_batch_yields_declared_columns():
    image = ["doc_id", "width", "height", "px_sum", "px_min", "px_max"]
    expected = {
        "png": image + ["rs_sum"],
        "bmp": image + ["top_row_sum"],
        "gif": image + ["top_row_sum"],
        "wav": ["doc_id", "n_samples", "sample_rate", "amp_sum", "energy", "s_min", "s_max"],
    }
    assert set(_CODECS) == set(expected)
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})
    for name, codec in _CODECS.items():
        (out,) = _roundtrip_batches(iter([empty]), codec)
        assert list(out.columns) == expected[name] and len(out) == 0
