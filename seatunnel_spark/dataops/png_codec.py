"""Stdlib PNG codec — real image decode/encode with zero dependencies.

The container has no PIL/ffmpeg, but PNG's compression is plain zlib,
so a complete, correct decoder fits in pure Python + numpy: chunk walk,
IDAT inflate, per-scanline unfilter (None/Sub/Up/Average/Paeth), and
palette expansion, per the PNG specification (RFC 2083 / W3C PNG).
This upgrades the multimodal operators from "stub codec" to a real
decode path for the most common lossless format; JPEG/video still need
native libs and stay behind the deploy-time gate.

Supported: bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette),
4 (gray+alpha), 6 (RGBA), interlace 0. Anything else raises
`UnsupportedPng` — callers fall back to the deterministic stub.

Encoding writes filter-0 scanlines (valid for any decoder; optimal
filtering is a size optimization, not a correctness one).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from seatunnel_spark._pyworker import ship_by_value

ship_by_value(__name__)

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class UnsupportedPng(ValueError):
    pass


def is_png(data: bytes) -> bool:
    return data[:8] == _SIG


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> HxWxC uint8 array (C in {1, 2, 3, 4})."""
    if not is_png(data):
        raise UnsupportedPng("not a PNG signature")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None:
        raise UnsupportedPng("missing IHDR")
    if bit_depth != 8 or color_type not in _CHANNELS or interlace != 0:
        raise UnsupportedPng(
            f"unsupported: depth={bit_depth} color={color_type} "
            f"interlace={interlace}")
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise UnsupportedPng("IDAT size mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.intp)
    for y in range(height):
        fb = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride,
            offset=y * (stride + 1) + 1).astype(np.intp)
        if fb == 0:
            cur = line
        elif fb == 1:  # Sub
            cur = line.copy()
            for i in range(ch, stride):
                cur[i] = (cur[i] + cur[i - ch]) & 0xFF
        elif fb == 2:  # Up
            cur = (line + prev) & 0xFF
        elif fb == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif fb == 4:  # Paeth
            cur = line.copy()
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                cur[i] = (cur[i] + _paeth(int(left), int(prev[i]), int(ul))) & 0xFF
        else:
            raise UnsupportedPng(f"bad filter {fb}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    img = out.reshape(height, width, ch)
    if color_type == 3:
        if palette is None:
            raise UnsupportedPng("palette image without PLTE")
        img = palette[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray) -> bytes:
    """HxWxC (or HxW) uint8 array -> PNG bytes (filter 0, one IDAT)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color_type is None:
        raise ValueError(f"cannot encode {ch}-channel image")
    body = img.astype(np.uint8).reshape(h, w * ch)
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (no float rounding drift)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w = img.shape[:2]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return img[ys][:, xs]


def gray8_histogram_feature(img: np.ndarray, bins: int = 8) -> list[float]:
    """8-bin grayscale histogram over a 32x32 thumbnail — the same
    feature shape the PIL path produces (channel-mean gray here vs
    PIL's luma weights; both are real decoders, documented difference)."""
    small = resize_nearest(img, 32, 32)
    gray = small.mean(axis=2) if small.ndim == 3 else small
    hist, _ = np.histogram(gray, bins=bins, range=(0, 256))
    total = float(hist.sum()) or 1.0
    return [float(v) / total for v in hist]


__all__ = ["decode_png", "encode_png", "resize_nearest", "is_png",
           "gray8_histogram_feature", "UnsupportedPng"]
