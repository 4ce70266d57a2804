"""Real stdlib media codecs (functions/codecs.py): PNG round-trips, all five
PNG scanline filters invert correctly, WAV round-trips, and a checked-in
2x2 PNG decodes to its pixels."""

import struct
import zlib

import numpy as np
import pytest

from automatedreclin_spark.functions.codecs import (
    PNG_SIGNATURE,
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
    is_png,
    is_wav,
)

# Real 2x2 RGB PNG: [[red, green], [blue, white]] — bytes pinned so the test
# exercises decode of on-disk content, not just our own encoder output.
PNG_2X2 = bytes.fromhex(
    "89504e470d0a1a0a0000000d4948445200000002000000020802000000fdd49a73"
    "0000001249444154789c63f8cfc0c000c20cff8100001fee05fb0bd9688b"
    "0000000049454e44ae426082"
)
PX_2X2 = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [255, 255, 255]]], dtype=np.uint8)


def test_png_2x2_golden_bytes():
    assert is_png(PNG_2X2)
    assert (decode_png(PNG_2X2) == PX_2X2).all()


@pytest.mark.parametrize("shape", [(1, 1, 1), (2, 2, 3), (7, 5, 4), (16, 16, 3)])
def test_png_roundtrip(shape):
    rng = np.random.default_rng(sum(shape))
    arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert (decode_png(encode_png(arr)) == arr).all()


def _encode_with_filter(arr: np.ndarray, filter_type: int) -> bytes:
    """Hand-build a PNG whose every scanline uses ``filter_type`` — applies
    the PNG filter forward per spec so decode_png's inverse is tested against
    an independent forward implementation."""
    h, w, c = arr.shape
    bpp = c
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int64)
    out = b""
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = flat[y]
        filt = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            cc = prev[x - bpp] if x >= bpp else 0
            if filter_type == 0:
                pred = 0
            elif filter_type == 1:
                pred = a
            elif filter_type == 2:
                pred = b
            elif filter_type == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt[x] = (cur[x] - pred) & 0xFF
        out += bytes([filter_type]) + bytes(filt.astype(np.uint8))
        prev = cur

    def chunk(typ, payload):
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 3: 2, 4: 6}[c], 0, 0, 0)
    return (PNG_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(out)) + chunk(b"IEND", b""))


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_all_filters_invert(filter_type):
    rng = np.random.default_rng(filter_type + 10)
    arr = rng.integers(0, 256, size=(9, 6, 3), dtype=np.uint8)
    assert (decode_png(_encode_with_filter(arr, filter_type)) == arr).all()


def test_wav_roundtrip():
    rng = np.random.default_rng(5)
    samples = np.clip(rng.standard_normal(4000) * 0.3, -1, 1)
    data = encode_wav(samples, 16000)
    assert is_wav(data)
    back, rate = decode_wav(data)
    assert rate == 16000
    assert len(back) == 4000
    # PCM16 truncation (1/32767) + the 32767-encode/32768-decode scale
    assert np.abs(back - samples).max() < 1e-4
