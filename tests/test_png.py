"""PNG codec (functions/png.py): golden pixels, all five filter paths,
wire stability, and rejection of corrupt or unsupported streams."""

import hashlib
import struct
import zlib

import numpy as np
import pytest

from cqf_spark.functions.png import PNG_MAGIC, decode_png, encode_png, is_png


def _grad(h, w, ch, seed=0):
    """Deterministic test image: smooth gradients + seeded noise, so
    every filter type produces non-trivial residuals."""
    y, x = np.mgrid[0:h, 0:w]
    base = (x * 3 + y * 7)[:, :, None] + np.arange(ch) * 11
    noise = np.random.default_rng(seed).integers(0, 32, (h, w, ch))
    return ((base + noise) % 256).astype(np.uint8)


@pytest.mark.parametrize("ch", [1, 3, 4])
@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter_and_colortype(ch, ft):
    img = _grad(23, 31, ch, seed=ft)
    out = decode_png(encode_png(img, filter_type=ft))
    assert out.shape == (23, 31, ch)
    assert (out == img).all()


def test_golden_pixels_and_wire_stability():
    """A fixed image must decode to EXACT known pixels, and the encoded
    bytes must stay stable (wire format pin, like the CQF goldens)."""
    img = _grad(8, 8, 3, seed=42)
    buf = encode_png(img, filter_type=4)
    assert is_png(buf)
    # golden pixel probe (generator: base [0,11,22] + rng(42) noise)
    assert img[0, 0].tolist() == [2, 35, 42]
    out = decode_png(buf)
    assert (out == img).all()
    # wire pin: deterministic zlib level 6 + single IDAT + Paeth rows
    assert hashlib.sha256(buf).hexdigest() == (
        "06cd76d693614455953768d3057ee04502d2eba8604797796b5187b76c694d86"
    )


def test_hand_built_minimal_png():
    """Decode a PNG assembled by hand (not by our encoder): 2x2 RGB,
    filter 0 rows — pins the chunk walk independently of encode_png."""
    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    scan = bytes([0, 255, 0, 0, 0, 255, 0, 0, 0, 0, 255, 10, 20, 30])
    buf = (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    out = decode_png(buf)
    assert out.tolist() == [
        [[255, 0, 0], [0, 255, 0]],
        [[0, 0, 255], [10, 20, 30]],
    ]


def test_multi_idat_and_mixed_row_filters():
    """Foreign encoders split IDAT and vary the filter per row."""
    img = _grad(6, 5, 3, seed=9)
    buf = encode_png(img, filter_type=0)
    # re-filter each row with its own type by splicing streams
    rows = []
    for ft in range(5):
        one = encode_png(img, filter_type=ft)
        # extract the raw scanline stream back out
        pos, idat = 8, b""
        while pos + 8 <= len(one):
            (ln,) = struct.unpack_from(">I", one, pos)
            t = one[pos + 4 : pos + 8]
            if t == b"IDAT":
                idat += one[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        rows.append(np.frombuffer(zlib.decompress(idat), np.uint8).reshape(6, -1))
    mixed = np.stack([rows[y % 5][y] for y in range(6)]).tobytes()
    z = zlib.compress(mixed)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 5, 6, 8, 2, 0, 0, 0)
    two_idats = chunk(b"IDAT", z[:7]) + chunk(b"IDAT", z[7:])
    buf = PNG_MAGIC + chunk(b"IHDR", ihdr) + two_idats + chunk(b"IEND", b"")
    assert (decode_png(buf) == img).all()


def test_rejects_corrupt_and_unsupported():
    img = _grad(4, 4, 3)
    buf = bytearray(encode_png(img))
    buf[30] ^= 0x40
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(buf))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")
    # 16-bit depth unsupported -> ValueError, not garbage pixels
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    bad = (
        PNG_MAGIC + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\0" * 26)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        decode_png(bad)

