"""Real, dependency-free media codecs. Nothing in the package imports them.

This container has no Pillow/torchaudio/PyAV, but two formats are fully
decodable with the standard library alone, so those paths are REAL:

- PNG (bit depth 8, color types 0/2/6 = gray/RGB/RGBA, non-interlaced):
  chunk parse + ``zlib`` inflate + scanline unfiltering (all five PNG filter
  types) — plus a minimal encoder used to build test fixtures.
- WAV (PCM 8/16-bit via the stdlib ``wave`` module) — plus an encoder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def is_png(data: bytes) -> bool:
    return bytes(data[:8]) == PNG_SIGNATURE


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG into an (H, W, C) uint8 array.

    Supports bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA),
    non-interlaced — the variants a data pipeline actually stores. Raises
    ValueError on anything else (caller falls back)."""
    if not is_png(data):
        raise ValueError("not a PNG")
    pos = 8
    idat = b""
    w = h = color = None
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos:pos + 4], "big")
        typ = bytes(data[pos + 4:pos + 8])
        chunk = bytes(data[pos + 8:pos + 8 + ln])
        pos += 12 + ln
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk)
            if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
                raise ValueError(
                    f"unsupported PNG variant (depth={depth}, color={color}, "
                    f"interlace={interlace})")
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    c = _PNG_CHANNELS[color]
    bpp = c  # bytes per pixel at depth 8
    raw = zlib.decompress(idat)
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    p = 0
    for y in range(h):
        f = raw[p]
        row = np.frombuffer(raw[p + 1:p + 1 + stride], dtype=np.uint8).copy()
        p += 1 + stride
        if f == 0:                                   # None
            cur = row
        elif f == 2:                                 # Up (vectorized)
            cur = row + prev                         # uint8 wraps mod 256
        elif f == 1:                                 # Sub
            cur = row
            for x in range(bpp, stride):
                cur[x] = (int(cur[x]) + int(cur[x - bpp])) & 0xFF
        elif f == 3:                                 # Average
            cur = row
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                cur[x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:                                 # Paeth
            cur = row
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                cc = int(prev[x - bpp]) if x >= bpp else 0
                pp = a + b - cc
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, c)


def encode_png(arr: np.ndarray) -> bytes:
    """Minimal PNG encoder (filter 0, one IDAT) for (H, W, C) uint8 arrays
    with C in {1, 3, 4} — used to build real on-disk/test fixtures."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 3: 2, 4: 6}[c]

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    scanlines = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (PNG_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scanlines))
            + chunk(b"IEND", b""))


# ---------------------------------------------------------------------- WAV --

def is_wav(data: bytes) -> bool:
    return bytes(data[:4]) == b"RIFF" and bytes(data[8:12]) == b"WAVE"


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV into (mono float64 samples in [-1, 1], sample_rate)
    via the stdlib ``wave`` module. Multi-channel input is averaged to mono."""
    import io
    import wave

    with wave.open(io.BytesIO(bytes(data)), "rb") as wf:
        n_ch = wf.getnchannels()
        width = wf.getsampwidth()
        rate = wf.getframerate()
        frames = wf.readframes(wf.getnframes())
    if width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported WAV sample width {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x, rate


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """PCM16 mono WAV encoder for float samples in [-1, 1] (test fixtures)."""
    import io
    import wave

    pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    pcm16 = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(pcm16.tobytes())
    return buf.getvalue()
