"""Image codecs + raster synthesis (no PIL/rasterio in this environment).

Formats we fully control (SURVEY.md §7.0):
- ``raw``: RAW1 header + uint16 dims + uint8 pixels (lossless)
- ``png``: real minimal PNG — 8-bit grayscale, filter 0, zlib — encoder and
  decoder implement the actual spec (signature/IHDR/IDAT/IEND + CRC32), so
  bytes are readable by any standard viewer (lossless)
- ``dct``: 8x8 block DCT with uniform quantization (lossy; quality chosen so
  PSNR >= 40 dB, the BASELINE.json input_hint gate)

``make_raster`` mirrors the reference's mock-GeoTIFF generator — a smooth
2-Gaussian gradient field plus deterministic per-image noise
(reference tests/conftest.py:146-173) — seeded by ``phash`` so any executor
can regenerate the ground-truth pixels for invariant checks.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

RAW_MAGIC = b"RAW1"
PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# Raster synthesis (deterministic from phash)
# ---------------------------------------------------------------------------

def make_raster(phash: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w) uint8 raster: 2-Gaussian gradient + seeded noise."""
    yy, xx = np.mgrid[0:h, 0:w]
    cx1, cy1 = (phash % 997) / 997.0 * w, ((phash >> 10) % 991) / 991.0 * h
    cx2, cy2 = ((phash >> 20) % 983) / 983.0 * w, ((phash >> 30) % 977) / 977.0 * h
    s = max(w, h) / 3.0
    g = np.exp(-(((xx - cx1) ** 2 + (yy - cy1) ** 2) / (2 * s * s))) + 0.7 * np.exp(
        -(((xx - cx2) ** 2 + (yy - cy2) ** 2) / (2 * s * s))
    )
    rng = np.random.default_rng(phash & 0xFFFFFFFF)
    noise = rng.integers(0, 16, size=(h, w))
    return np.clip(g / g.max() * 223.0 + noise, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# raw codec
# ---------------------------------------------------------------------------

def encode_raw(arr: np.ndarray) -> bytes:
    h, w = arr.shape
    return RAW_MAGIC + struct.pack("<HH", w, h) + arr.astype(np.uint8).tobytes()


def decode_raw(data: bytes) -> np.ndarray:
    if data[:4] != RAW_MAGIC:
        raise ValueError("not a RAW1 payload")
    w, h = struct.unpack("<HH", data[4:8])
    return np.frombuffer(data[8 : 8 + w * h], dtype=np.uint8).reshape(h, w)


# ---------------------------------------------------------------------------
# png codec (8-bit grayscale, filter 0)
# ---------------------------------------------------------------------------

def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    h, w = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    scanlines = b"".join(b"\x00" + arr[y].astype(np.uint8).tobytes() for y in range(h))
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    if data[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w, h, idat = len(PNG_SIG), 0, 0, b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 0:
                raise ValueError("only 8-bit grayscale supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    if (rows[:, 0] != 0).any():
        raise ValueError("only filter 0 supported")
    return rows[:, 1:].copy()


# ---------------------------------------------------------------------------
# dct codec (lossy)
# ---------------------------------------------------------------------------

_DCT_N = 8
_Q = 6.0  # uniform quantization step — keeps PSNR comfortably >= 40 dB


def _dct_matrix() -> np.ndarray:
    n = _DCT_N
    k = np.arange(n)
    m = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    m[0] *= 1 / np.sqrt(2)
    return m * np.sqrt(2 / n)


_DCT_M = _dct_matrix()


def encode_dct(arr: np.ndarray) -> bytes:
    h, w = arr.shape
    ph, pw = (-h) % _DCT_N, (-w) % _DCT_N
    a = np.pad(arr.astype(np.float64) - 128.0, ((0, ph), (0, pw)), mode="edge")
    hh, ww = a.shape
    blocks = a.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
    coef = _DCT_M @ blocks @ _DCT_M.T
    q = np.rint(coef / _Q).astype(np.int16)
    payload = zlib.compress(q.tobytes(), 6)
    return b"DCT1" + struct.pack("<HHHH", w, h, ww, hh) + payload


def decode_dct(data: bytes) -> np.ndarray:
    if data[:4] != b"DCT1":
        raise ValueError("not a DCT1 payload")
    w, h, ww, hh = struct.unpack("<HHHH", data[4:12])
    q = np.frombuffer(zlib.decompress(data[12:]), dtype=np.int16).reshape(
        hh // 8, ww // 8, 8, 8
    )
    coef = q.astype(np.float64) * _Q
    blocks = _DCT_M.T @ coef @ _DCT_M
    a = blocks.transpose(0, 2, 1, 3).reshape(hh, ww) + 128.0
    return np.clip(a[:h, :w], 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

CODECS = {
    "raw": (encode_raw, decode_raw),
    "png": (encode_png, decode_png),
    "dct": (encode_dct, decode_dct),
}


def encode_image(arr: np.ndarray, fmt: str) -> bytes:
    return CODECS[fmt][0](arr)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    return CODECS[fmt][1](data)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy index mapping)."""
    h, w = arr.shape
    yi = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    xi = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return arr[yi[:, None], xi[None, :]]


# ---------------------------------------------------------------------------
# Audio codec: real PCM WAV (RIFF/WAVE fmt+data chunks, 16-bit mono) —
# stdlib struct + numpy only, readable by any standard audio tool.
# ---------------------------------------------------------------------------

WAV_RATE = 8000


def make_waveform(seed: int, n_samples: int, rate: int = WAV_RATE) -> np.ndarray:
    """Deterministic int16 mono waveform: a 2-tone sine mix + seeded noise
    (the audio analogue of make_raster; any executor regenerates it)."""
    t = np.arange(n_samples, dtype=np.float64) / rate
    f1 = 200.0 + (seed % 1200)          # 200-1399 Hz
    f2 = 150.0 + ((seed >> 12) % 900)   # 150-1049 Hz
    sig = 0.6 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t)
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    sig = sig + rng.uniform(-0.02, 0.02, n_samples)
    return np.clip(sig * 32000.0, -32768, 32767).astype(np.int16)


def encode_wav(samples: np.ndarray, rate: int = WAV_RATE) -> bytes:
    """Standard 16-bit mono PCM WAV (RIFF header + fmt + data chunks)."""
    data = samples.astype("<i2").tobytes()
    byte_rate = rate * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, byte_rate, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse a PCM WAV payload -> (int16 samples, sample_rate). Walks the
    RIFF chunk list (tolerates extra chunks before data)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only 16-bit mono PCM supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return samples, rate


# ---------------------------------------------------------------------------
# Video codec: RVID — packed raw grayscale frames with a fixed header
# (magic, frame count, dims, fps). The frame payload is the raw codec's
# pixel layout, so every sampled frame re-encodes losslessly.
# ---------------------------------------------------------------------------

RVID_MAGIC = b"RVID"


def make_video(seed: int, n_frames: int, w: int, h: int) -> np.ndarray:
    """Deterministic (n_frames, h, w) uint8 clip: the seed raster panned one
    pixel per frame with a per-frame brightness ramp (content changes every
    frame, so frame-sampling results are order-sensitive and checkable)."""
    base = make_raster(seed, w, h).astype(np.int16)
    frames = np.empty((n_frames, h, w), dtype=np.uint8)
    for i in range(n_frames):
        panned = np.roll(base, shift=i, axis=1) + (i % 7) * 3
        frames[i] = np.clip(panned, 0, 255).astype(np.uint8)
    return frames


def encode_rvid(frames: np.ndarray, fps: int = 10) -> bytes:
    n, h, w = frames.shape
    return (
        RVID_MAGIC
        + struct.pack("<IHHH", n, w, h, fps)
        + frames.astype(np.uint8).tobytes()
    )


def decode_rvid_header(payload: bytes) -> tuple[int, int, int, int]:
    """-> (n_frames, w, h, fps) without touching frame bytes (cheap probe)."""
    if payload[:4] != RVID_MAGIC:
        raise ValueError("not an RVID payload")
    return struct.unpack("<IHHH", payload[4:14])
