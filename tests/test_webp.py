"""VP8L (WebP lossless) codec tests: encoder round trips (random and
structured images), hand-built byte-level streams with pen-and-paper
pixels for the decoder paths the subset encoder never emits (LZ77
backrefs via the 2D distance map, the color cache, RLE-coded code
lengths, and all four transforms), and the Spark dispatch."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from cqf_spark.functions.webp import (
    _BitReader,
    _BitWriter,
    _read_code,
    _write_code,
    decode_webp,
    encode_webp_lossless,
    is_webp_lossless,
)


def _rand_img(h, w, channels, seed, levels=256):
    rng = np.random.default_rng(seed)
    return (
        rng.integers(0, levels, (h, w, channels)) * (256 // levels)
    ).astype(np.uint8)


# --------------------------------------------------------------------- #
# encoder round trips
# --------------------------------------------------------------------- #

@pytest.mark.parametrize("h,w,ch,levels", [
    (1, 1, 3, 256), (3, 5, 3, 256), (8, 8, 4, 256), (2, 17, 3, 4),
    (16, 9, 4, 2), (5, 4, 3, 17),
])
def test_round_trip_shapes(h, w, ch, levels):
    img = _rand_img(h, w, ch, seed=h * 100 + w, levels=levels)
    blob = encode_webp_lossless(img)
    assert is_webp_lossless(blob)
    got = decode_webp(blob)
    assert got.shape == (h, w, 4)
    assert (got[:, :, :ch] == img).all()
    if ch == 3:
        assert (got[:, :, 3] == 255).all()


@given(
    h=st.integers(1, 9), w=st.integers(1, 9), seed=st.integers(0, 99),
)
@settings(max_examples=40, deadline=None)
def test_round_trip_property(h, w, seed):
    img = _rand_img(h, w, 4, seed)
    assert (decode_webp(encode_webp_lossless(img))[:, :, :4] == img).all()


@pytest.mark.parametrize("n", [1, 2, 3, 5, 7, 16, 200, 256, 280])
def test_complete_lengths_kraft_sum_is_one(n):
    """Encoder code lengths must be Kraft-COMPLETE (sum 2^-len == 1) for
    every used-symbol count, so strict table-building decoders (libwebp)
    accept the stream — uniform lengths alone are incomplete whenever n
    is not a power of two."""
    from fractions import Fraction

    from cqf_spark.functions.webp import _complete_lengths

    lengths = _complete_lengths(range(n), 280)
    nz = [l for l in lengths if l]
    assert len(nz) == n
    if n > 1:
        assert sum(Fraction(1, 2 ** l) for l in nz) == 1
        assert max(nz) - min(nz) <= 1


def test_round_trip_non_pow2_symbol_count():
    """3 distinct values per channel: the old uniform-length code was
    Kraft-incomplete here; the two-length code must still round-trip."""
    img = np.zeros((3, 3, 3), np.uint8)
    img[0] = 10
    img[1] = 20
    img[2] = 77
    got = decode_webp(encode_webp_lossless(img))
    assert (got[:, :, :3] == img).all()


def test_single_color_image():
    img = np.full((6, 7, 3), 129, np.uint8)
    got = decode_webp(encode_webp_lossless(img))
    assert (got[:, :, :3] == 129).all()


def test_flavor_errors():
    with pytest.raises(ValueError, match="not a WebP"):
        decode_webp(b"nope" * 8)
    lossy = b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8 " + b"\x00" * 12
    with pytest.raises(ValueError, match="VP8L lossless"):
        decode_webp(lossy)


# --------------------------------------------------------------------- #
# hand-built streams: the paths the subset encoder never emits
# --------------------------------------------------------------------- #

def _container(payload: bytes) -> bytes:
    vp8l = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff = b"WEBP" + vp8l
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _header(bw, w, h, n_transform_bits=()):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    for b in n_transform_bits:
        bw.write(b, 1)


def _plain_codes(bw, green_syms, r, g0_unused, b, a, level0=True):
    """no cache, no meta; green code over green_syms (uniform length),
    single-symbol codes for r/b/a and distance symbol 1.  Sub-images
    (transform data, level0=False) have NO meta-huffman bit."""
    bw.write(0, 1)  # no cache
    if level0:
        bw.write(0, 1)  # no meta huffman
    lengths = [0] * 280
    L = max(1, int(np.ceil(np.log2(len(green_syms))))) if len(green_syms) > 1 else 1
    for s in green_syms:
        lengths[s] = L
    tg = _write_code(bw, lengths)
    tables = [tg]
    for alphabet, sym in ((256, r), (256, b), (256, a), (40, 1)):
        lg = [0] * alphabet
        lg[sym] = 1
        tables.append(_write_code(bw, lg))
    return tables


def _emit_sym(bw, table, sym):
    code, length = table[sym]
    for i in range(length - 1, -1, -1):
        bw.write((code >> i) & 1, 1)


def test_hand_stream_backref_distance_map():
    """1x4 image: literal pixel then a length-3 backref at distance
    code 2 -> _DIST_MAP[1] = (1, 0) -> dist 1: all four pixels equal."""
    bw = _BitWriter()
    _header(bw, 4, 1, (0,))  # no transforms
    # green literal 77 and backref symbol 256+2 (length code 2 -> len 3)
    tg, tr, tb, ta, td = _plain_codes(bw, [77, 258], r=10, g0_unused=None,
                                      b=20, a=255)
    _emit_sym(bw, tg, 77)   # literal green
    _emit_sym(bw, tr, 10)
    _emit_sym(bw, tb, 20)
    _emit_sym(bw, ta, 255)
    _emit_sym(bw, tg, 258)  # backref, length 3
    _emit_sym(bw, td, 1)    # distance symbol 1 -> dcode 2 -> map (1,0)
    got = decode_webp(_container(bw.done()))
    assert got.shape == (1, 4, 4)
    assert (got == np.array([10, 77, 20, 255], np.uint8)).all()


def test_hand_stream_color_cache():
    """1x3 image: literal, then a cache hit reproduces it."""
    px = (255 << 24) | (10 << 16) | (77 << 8) | 20
    cache_bits = 4
    idx = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)
    bw = _BitWriter()
    _header(bw, 3, 1, (0,))
    bw.write(1, 1)              # cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)              # no meta huffman
    green_alpha = 256 + 24 + (1 << cache_bits)
    lengths = [0] * green_alpha
    cache_sym = 280 + int(idx)
    for s in (77, cache_sym):
        lengths[s] = 1
    tg = _write_code(bw, lengths)
    tables = [tg]
    for alphabet, sym in ((256, 10), (256, 20), (256, 255), (40, 1)):
        lg = [0] * alphabet
        lg[sym] = 1
        tables.append(_write_code(bw, lg))
    tg, tr, tb, ta, td = tables
    _emit_sym(bw, tg, 77)
    _emit_sym(bw, tr, 10)
    _emit_sym(bw, tb, 20)
    _emit_sym(bw, ta, 255)
    _emit_sym(bw, tg, cache_sym)   # cache hit
    _emit_sym(bw, tg, cache_sym)   # and again
    got = decode_webp(_container(bw.done()))
    assert (got == np.array([10, 77, 20, 255], np.uint8)).all()


def test_hand_stream_subtract_green():
    """subtract-green inverse: stored (r-g, g, b-g) -> original rgb."""
    bw = _BitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)  # one transform
    bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # end of transforms
    r, g, b = 100, 30, 220
    tg, tr, tb, ta, _ = _plain_codes(
        bw, [g], r=(r - g) % 256, g0_unused=None, b=(b - g) % 256, a=255
    )
    _emit_sym(bw, tg, g)
    _emit_sym(bw, tr, (r - g) % 256)
    _emit_sym(bw, tb, (b - g) % 256)
    _emit_sym(bw, ta, 255)
    got = decode_webp(_container(bw.done()))
    assert tuple(got[0, 0]) == (r, g, b, 255)


def test_hand_stream_palette_bundled():
    """2-color palette: 8 pixels bundle into ONE coded byte (xsub=3);
    palette entries are stored as channel deltas."""
    bw = _BitWriter()
    _header(bw, 8, 1)
    bw.write(1, 1)  # one transform
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(1, 8)  # palette size - 1 = 1 -> 2 colors
    # palette image (2x1): entry0 = (255,10,20,30); entry1 = delta to
    # (255,200,220,240) -> (0,190,200,210)
    bw.write(0, 1)  # palette image: no cache
    lengths = [0] * 280
    for s in (20, 200):
        lengths[s] = 1
    tgp = _write_code(bw, lengths)
    tabs = []
    for alphabet, syms in ((256, (10, 190)), (256, (30, 210)),
                           (256, (255, 0))):
        lg = [0] * alphabet
        for s in syms:
            lg[s] = 1
        tabs.append(_write_code(bw, lg))
    trp, tbp, tap = tabs
    lgd = [0] * 40
    lgd[1] = 1
    _write_code(bw, lgd)
    for g, r, b, a in ((20, 10, 30, 255), (200, 190, 210, 0)):
        _emit_sym(bw, tgp, g)
        _emit_sym(bw, trp, r)
        _emit_sym(bw, tbp, b)
        _emit_sym(bw, tap, a)
    bw.write(0, 1)  # end of transforms
    # main image: coded width ceil(8/8)=1; green byte = bit per pixel:
    # pixels 0..7 = [0,1,1,0,0,1,0,1] -> LSB-first packed = 0b10100110
    packed = 0b10100110
    tg, tr, tb, ta, _ = _plain_codes(bw, [packed], r=0, g0_unused=None,
                                     b=0, a=255)
    _emit_sym(bw, tg, packed)
    _emit_sym(bw, tr, 0)
    _emit_sym(bw, tb, 0)
    _emit_sym(bw, ta, 255)
    got = decode_webp(_container(bw.done()))
    c0 = (10, 20, 30, 255)
    c1 = (200, 220, 240, 255)
    want = [c0, c1, c1, c0, c0, c1, c0, c1]
    assert [tuple(p) for p in got[0]] == want


def test_hand_stream_predictor_left():
    """predictor transform, one block, mode 1 (L): pixel = residual +
    left neighbor; first pixel predicts opaque black (0xff000000)."""
    bw = _BitWriter()
    _header(bw, 3, 1)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR
    bw.write(2, 3)  # size_bits = 2+2 = 4 -> 16x16 blocks -> one block
    # transform data image 1x1: mode in green channel = 1
    tgp, trp, tbp, tap, _ = _plain_codes(bw, [1], r=0, g0_unused=None,
                                         b=0, a=0, level0=False)
    _emit_sym(bw, tgp, 1)
    _emit_sym(bw, trp, 0)
    _emit_sym(bw, tbp, 0)
    _emit_sym(bw, tap, 0)
    bw.write(0, 1)  # end of transforms
    # residuals: p0=(5,6,7,a=1); then +2 each channel twice (alpha resid 0)
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    lengths = [0] * 280
    for s in (6, 2):
        lengths[s] = 1
    tg = _write_code(bw, lengths)
    tabs = []
    for alphabet, syms in ((256, (5, 2)), (256, (7, 2)), (256, (2, 0))):
        lg = [0] * alphabet
        for s in syms:
            lg[s] = 1
        tabs.append(_write_code(bw, lg))
    tr, tb, ta = tabs
    lgd = [0] * 40
    lgd[1] = 1
    _write_code(bw, lgd)
    for g, r, b, a in ((6, 5, 7, 2), (2, 2, 2, 0), (2, 2, 2, 0)):
        _emit_sym(bw, tg, g)
        _emit_sym(bw, tr, r)
        _emit_sym(bw, tb, b)
        _emit_sym(bw, ta, a)
    got = decode_webp(_container(bw.done()))
    # p0 = resid + (a=255,0,0,0); p1 = p0 + resid; p2 = p1 + resid
    assert [tuple(p) for p in got[0]] == [
        (5, 6, 7, 1), (7, 8, 9, 1), (9, 10, 11, 1)
    ]


def _chan_code(bw, alphabet, syms):
    """Uniform-length canonical code over ``syms`` (1 bit for <=2 symbols,
    2 bits for 3-4)."""
    lg = [0] * alphabet
    L = 1 if len(syms) <= 2 else 2
    for s in syms:
        lg[s] = L
    return _write_code(bw, lg)


def _predictor_2x2(mode, residuals):
    """Hand-build a 2x2 predictor-transformed stream: one 16x16 block of
    ``mode``; ``residuals`` = four (g, r, b, a) tuples in raster order."""
    bw = _BitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)
    bw.write(0, 2)  # PREDICTOR
    bw.write(2, 3)  # size_bits = 4 -> one 16x16 block
    tgp, trp, tbp, tap, _ = _plain_codes(bw, [mode], r=0, g0_unused=None,
                                         b=0, a=0, level0=False)
    _emit_sym(bw, tgp, mode)
    _emit_sym(bw, trp, 0)
    _emit_sym(bw, tbp, 0)
    _emit_sym(bw, tap, 0)
    bw.write(0, 1)  # end of transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    gs = sorted({p[0] for p in residuals})
    rs = sorted({p[1] for p in residuals})
    bs = sorted({p[2] for p in residuals})
    as_ = sorted({p[3] for p in residuals})
    tg = _chan_code(bw, 280, gs)
    tr = _chan_code(bw, 256, rs)
    tb = _chan_code(bw, 256, bs)
    ta = _chan_code(bw, 256, as_)
    _chan_code(bw, 40, [1])
    for g, r, b, a in residuals:
        _emit_sym(bw, tg, g)
        _emit_sym(bw, tr, r)
        _emit_sym(bw, tb, b)
        _emit_sym(bw, ta, a)
    return decode_webp(_container(bw.done()))


def test_hand_stream_predictor_tr_wraps_to_current_row():
    """mode 3 (TR) at the rightmost column: the spec's contiguous-buffer
    index (y-1)*w + (x+1) lands on the CURRENT row's leftmost pixel, not
    the row above's.  p10=(5,5,5) != p00=(0,0,0) discriminates."""
    got = _predictor_2x2(3, [
        (0, 0, 0, 0),   # p00 = pred(255,0,0,0) -> rgba (0,0,0,255)
        (0, 0, 0, 0),   # p01: y=0 -> L        -> (0,0,0,255)
        (5, 5, 5, 0),   # p10: x=0 -> T + 5    -> (5,5,5,255)
        (0, 0, 0, 0),   # p11: TR == out[1,0]  -> (5,5,5,255)
    ])
    assert tuple(got[1, 1]) == (5, 5, 5, 255)


def test_hand_stream_predictor_select_tie_returns_top():
    """mode 11 at a Manhattan-distance tie: libwebp's Select returns the
    TOP pixel when pa_minus_pb <= 0.  With TL=(1,1), T=(2,0), L=(0,2):
    p = L+T-TL = (1,1); pL = pT = 2 -> must pick T."""
    got = _predictor_2x2(11, [
        (1, 1, 0, 0),       # p00 = TL = rgba (1,1,0,255)
        (255, 1, 0, 0),     # p01 = T: p00 + (g-1, r+1) = (2,0,0,255)
        (1, 255, 0, 0),     # p10 = L: p00 + (g+1, r-1) = (0,2,0,255)
        (0, 0, 0, 0),       # p11 = Select tie -> T
    ])
    assert tuple(got[1, 1]) == (2, 0, 0, 255)


def test_hand_stream_predictor_mode13_truncates_toward_zero():
    """mode 13 (ClampAddSubtractHalf) uses C division: red a=avg2(10,11)
    =10, TL=13 -> 10 + trunc(-3/2) = 9, where floor division gives 8."""
    got = _predictor_2x2(13, [
        (0, 13, 0, 0),      # p00 = TL = rgba (13,0,0,255)
        (0, 254, 0, 0),     # p01 = T: red 13-2 = 11
        (0, 253, 0, 0),     # p10 = L: red 13-3 = 10
        (0, 0, 0, 0),       # p11: red pred = 9
    ])
    assert tuple(got[1, 1]) == (9, 0, 0, 255)


def test_hand_stream_cross_color():
    """cross-color inverse with known multipliers, recomputed by hand:
    delta(t, c) = (int8(t)*int8(c)) >> 5."""
    g2r, g2b, r2b = 32, 16, 8  # +1.0x, +0.5x, +0.25x in 5.3 fixed point
    bw = _BitWriter()
    _header(bw, 1, 1)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR transform
    bw.write(2, 3)  # size_bits 4 -> one block
    # transform pixel: b=g2r, g=g2b, r=r2b
    tgp, trp, tbp, tap, _ = _plain_codes(bw, [g2b], r=r2b, g0_unused=None,
                                         b=g2r, a=0, level0=False)
    _emit_sym(bw, tgp, g2b)
    _emit_sym(bw, trp, r2b)
    _emit_sym(bw, tbp, g2r)
    _emit_sym(bw, tap, 0)
    bw.write(0, 1)  # end transforms
    g, r_res, b_res = 40, 11, 22
    tg, tr, tb, ta, _ = _plain_codes(bw, [g], r=r_res, g0_unused=None,
                                     b=b_res, a=255)
    _emit_sym(bw, tg, g)
    _emit_sym(bw, tr, r_res)
    _emit_sym(bw, tb, b_res)
    _emit_sym(bw, ta, 255)
    got = decode_webp(_container(bw.done()))

    def delta(t, c):
        t = t - 256 if t >= 128 else t
        c = c - 256 if c >= 128 else c
        return (t * c) >> 5

    r = (r_res + delta(g2r, g)) & 0xFF
    b = (b_res + delta(g2b, g) + delta(r2b, r)) & 0xFF
    assert tuple(got[0, 0]) == (r, g, b, 255)


# --------------------------------------------------------------------- #
# RLE-coded code lengths (spec symbols 16/17/18)
# --------------------------------------------------------------------- #

def test_read_code_rle_paths():
    bw = _BitWriter()
    bw.write(0, 1)   # full mode
    bw.write(15, 4)  # ncl = 19
    cl = [0] * 19
    cl[1] = 1   # code-length value 1
    cl[16] = 1  # repeat-previous
    for i in [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14,
              15]:
        bw.write(cl[i], 3)
    # canonical over {1, 16}: '0' -> 1, '1' -> 16
    bw.write(1, 1)   # bounded symbol count
    bw.write(0, 3)   # length_nbits = 2
    bw.write(0, 2)   # max_symbol = 2 coded ops
    bw.write(0, 1)   # symbol 0: length 1
    bw.write(1, 1)   # symbol 16: repeat prev
    bw.write(0, 2)   # 3 + 0 = 3 repeats -> symbols 1..3 get length 1
    code = _read_code(_BitReader(bw.done()), 300)
    # four symbols of length 1 -> canonical 1-bit... then 2-bit walk:
    # decoding just needs the map to hold symbols 0..3
    assert sorted(code.map.values()) == [0, 1, 2, 3]

