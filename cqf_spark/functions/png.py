"""Pure-Python PNG codec (zlib + numpy) with zero new dependencies.

Scope: non-interlaced, bit depth 8, color types 0 (grayscale), 2 (RGB)
and 6 (RGBA) — the shapes a training-data pipeline actually ships after
normalization.  Palette/16-bit/interlaced inputs raise ``ValueError``.

All five scanline filters (None/Sub/Up/Average/Paeth, PNG spec §9) are
implemented on both sides.  The encoder filters each row with ONE numpy
expression per filter.  The decoder unfilters None/Sub/Up fully
vectorized per row (Sub is a per-lane ``cumsum % 256``); Average and
Paeth have a true left-pixel data dependency, so they walk the row
column-by-column with all channels of a pixel handled per step — O(w)
steps per row, each a tiny vector op; scanline unfiltering is
inherently sequential per image no matter the library.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}  # color type -> samples per pixel
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}  # channels -> color type


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9.4), vectorized; int16 inputs."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode an (h, w), (h, w, 1), (h, w, 3) or (h, w, 4) uint8 array.

    ``filter_type`` (0-4) applies that one filter to every scanline —
    exposed so tests can pin each unfilter path with golden pixels; a
    production encoder would pick per-row.
    """
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in _COLOR_TYPE:
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w, ch = a.shape
    bpp = ch  # bytes per pixel at bit depth 8
    raw = a.reshape(h, w * ch).astype(np.int16)
    left = np.zeros_like(raw)
    left[:, bpp:] = raw[:, :-bpp]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    ul = np.zeros_like(raw)
    ul[1:, bpp:] = raw[:-1, :-bpp]
    if filter_type == 0:
        filt = raw
    elif filter_type == 1:
        filt = raw - left
    elif filter_type == 2:
        filt = raw - up
    elif filter_type == 3:
        filt = raw - ((left + up) >> 1)
    elif filter_type == 4:
        filt = raw - _paeth(left, up, ul)
    else:
        raise ValueError(f"filter_type must be 0-4, got {filter_type}")
    filt = (filt & 0xFF).astype(np.uint8)
    stream = np.concatenate(
        [np.full((h, 1), filter_type, dtype=np.uint8), filt], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[ch], 0, 0, 0)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(stream, 6))
        + _chunk(b"IEND", b"")
    )


def is_png(buf: bytes) -> bool:
    return len(buf) >= 8 and buf[:8] == PNG_MAGIC


def decode_png(buf: bytes) -> np.ndarray:
    """Decode PNG bytes to an (h, w, channels) uint8 array.

    Raises ``ValueError`` on non-PNG input, CRC mismatch, or an
    unsupported variant (palette, 16-bit, interlaced)."""
    if not is_png(buf):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    idat_parts: list[bytes] = []
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(buf):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat_parts.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat_parts:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt_method, interlace = ihdr
    if depth != 8 or color not in _CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth}, color={color})")
    if comp != 0 or filt_method != 0 or interlace != 0:
        raise ValueError("unsupported PNG (compression/filter/interlace)")
    ch = _CHANNELS[color]
    bpp = ch
    stride = w * ch
    stream = zlib.decompress(b"".join(idat_parts))
    if len(stream) != h * (stride + 1):
        raise ValueError("PNG pixel stream has wrong length")
    rows = np.frombuffer(stream, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = rows[:, 0]
    filt = rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(ftypes[y])
        row = filt[y]
        if f == 0:
            rec = row.copy()
        elif f == 1:  # Sub: per-lane cumsum mod 256
            rec = row.astype(np.int64).reshape(w, bpp)
            rec = (np.cumsum(rec, axis=0) & 0xFF).astype(np.uint8).reshape(-1)
        elif f == 2:  # Up
            rec = row + prev  # uint8 wraps == mod 256
        elif f == 3:  # Average: left-dependency -> column walk
            rec = np.empty(stride, dtype=np.uint8)
            rf = row.astype(np.int16).reshape(w, bpp)
            pv = prev.astype(np.int16).reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int16)
            rr = rec.reshape(w, bpp)
            for x in range(w):
                left = (rf[x] + ((left + pv[x]) >> 1)) & 0xFF
                rr[x] = left
        elif f == 4:  # Paeth: left/ul-dependency -> column walk
            rec = np.empty(stride, dtype=np.uint8)
            rf = row.astype(np.int16).reshape(w, bpp)
            pv = prev.astype(np.int16).reshape(w, bpp)
            left = np.zeros(bpp, dtype=np.int16)
            ul = np.zeros(bpp, dtype=np.int16)
            rr = rec.reshape(w, bpp)
            for x in range(w):
                left = (rf[x] + _paeth(left, pv[x], ul)) & 0xFF
                rr[x] = left
                ul = pv[x]
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
        out[y] = rec
        prev = out[y]
    return out.reshape(h, w, ch)
