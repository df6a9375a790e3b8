"""Stdlib-only image codecs (no PIL/opencv in the sandbox — and at cluster
scale we want zero native-lib deployment anyway).

Three fixture formats (FIXTURES.md §B1), all deterministic:

- ``ppm``: binary PPM P6 (header + raw RGB24). Lossless.
- ``png``: real PNG: IHDR/IDAT/IEND chunks, zlib deflate, filter 0 rows,
  8-bit RGB. Lossless; decodable by any standard viewer.
- ``qnt``: PPM payload uniformly quantized to 6 bits/channel — a
  deterministic stand-in for a lossy codec (no JPEG codec in-sandbox),
  exercising the PSNR>=40dB allclose invariant (BASELINE.json:input_hint).

All functions are numpy array <-> bytes, designed to be called on batches
inside Arrow pandas_udfs (mapInPandas) — per-image work is vectorized numpy,
the per-batch Python loop is over images, not pixels.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

LOSSY_FMTS = {"qnt"}
PSNR_LOSSY_MIN_DB = 40.0

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------- PPM P6 ----------


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: magic, width, height, maxval, single whitespace, then raw
    parts = data.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PPM header")
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raw = parts[3]
    need = w * h * 3
    if len(raw) < need:
        raise ValueError("truncated PPM payload")
    return np.frombuffer(raw[:need], dtype=np.uint8).reshape(h, w, 3)


# ---------- PNG (8-bit RGB, filter 0) ----------


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    # filter byte 0 prepended per row, vectorized
    rows = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    rows[:, 1:] = pixels.reshape(h, w * 3)
    idat = zlib.compress(rows.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if len(payload) < length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError("PNG CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    if raw.size != h * (1 + w * 3):
        raise ValueError("bad PNG payload size")
    rows = raw.reshape(h, 1 + w * 3)
    filters = rows[:, 0]
    bad = filters[(filters != 0) & (filters != 2)]
    if bad.size:
        raise ValueError(f"unsupported PNG filter {bad[0]}")
    # one slice copy: None (0) rows are final as stored; each Up (2) row
    # then adds the unfiltered row above it (uint8 wraps mod 256), top down
    out = rows[:, 1:].copy()
    for y in np.flatnonzero(filters == 2):
        if y:
            out[y] += out[y - 1]
    return out.reshape(h, w, 3)


# ---------- QNT (deterministic lossy: 6-bit uniform quantization) ----------


def encode_qnt(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    q = (pixels >> 2).astype(np.uint8)  # 6-bit
    return b"Q6\n%d %d\n" % (w, h) + q.tobytes()


def decode_qnt(data: bytes) -> np.ndarray:
    if not data.startswith(b"Q6"):
        raise ValueError("not a Q6 payload")
    parts = data.split(b"\n", 2)
    if len(parts) < 3:
        raise ValueError("truncated Q6 header")
    w, h = (int(x) for x in parts[1].split())
    raw = parts[2]
    need = w * h * 3
    if len(raw) < need:
        raise ValueError("truncated Q6 payload")
    q = np.frombuffer(raw[:need], dtype=np.uint8).reshape(h, w, 3)
    # dequantize to bin centers: x*4 + 2 (max error 2/255 -> PSNR ~ 42dB)
    return (q.astype(np.uint16) * 4 + 2).clip(0, 255).astype(np.uint8)


_DECODERS = {"ppm": decode_ppm, "png": decode_png, "qnt": decode_qnt}
_ENCODERS = {"ppm": encode_ppm, "png": encode_png, "qnt": encode_qnt}


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](pixels)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Decode or raise ValueError. Unknown formats (real-world jpeg/webp
    without a codec in this container) raise NotImplementedError — the
    Spark-side plumbing treats both as decode-failures with distinct codes."""
    dec = _DECODERS.get(fmt)
    if dec is None:
        raise NotImplementedError(f"no codec for fmt={fmt!r} in this environment")
    return dec(bytes(data))


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images."""
    if a.shape != b.shape:
        return 0.0
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))
