"""Pure-Python WebP-lossless (VP8L) codec with zero new dependencies.

Decoder scope: the full static VP8L feature set — simple and
length-coded (RLE 16/17/18) huffman codes, the meta-huffman entropy
image, the color cache, LZ77 backward references with the 120-entry 2D
distance map, and all four transforms (predictor, cross-color,
subtract-green, color-indexing incl. sub-byte pixel bundling).  Lossy
VP8, animation and the extended VP8X container raise ``ValueError``.  The decoder accepts
Kraft-incomplete prefix codes (liberal-in-what-you-accept; every
conformant stream is complete, so this only widens acceptance).

Encoder scope (tests/synthesis): conformant no-transform, no-cache,
single-group streams — each channel gets a Kraft-COMPLETE canonical
code over at most two lengths (_complete_lengths), so strict
table-building decoders (libwebp) accept the output, and the
code-length code is itself complete ({0, L} 1-bit or {0, La, Lb}).  The
fancier decoder paths (backrefs, cache, transforms, RLE) are pinned by
hand-built byte-level streams with pen-and-paper pixels in the tests.

Bit order per spec: the stream is LSB-first; huffman codes are read bit
by bit into the MSB side (code = code<<1 | bit).

Reference: "WebP Lossless Bitstream Specification" (Google, public).
"""

from __future__ import annotations

import struct

import numpy as np

WEBP_MAGIC = b"RIFF"

# distance codes 1..120 map to (dx, dy) neighborhood offsets (spec §4.2.2)
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]


def is_webp_lossless(buf: bytes) -> bool:
    return (
        len(buf) >= 16
        and buf[:4] == b"RIFF"
        and buf[8:12] == b"WEBP"
        and buf[12:16] == b"VP8L"
    )


class _BitReader:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0  # bit position

    def bit(self) -> int:
        p = self.pos
        self.pos = p + 1
        return (self.d[p >> 3] >> (p & 7)) & 1

    def bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.bit() << i
        return v


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def done(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


class _Huff:
    """Canonical prefix code from per-symbol lengths; decode walks bit
    by bit (code = code<<1 | bit), matching the spec's read order."""

    def __init__(self, lengths):
        self.map = {}
        self.single = None
        nz = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
        if not nz:
            raise ValueError("empty huffman code")
        if len(nz) == 1:
            self.single = nz[0][1]  # 0-bit code: always this symbol
            return
        # canonical assignment in (length, symbol) order
        code = 0
        prev = nz[0][0]
        for length, sym in nz:
            code <<= length - prev
            prev = length
            self.map[(length, code)] = sym
            code += 1

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code, length = 0, 0
        while True:
            code = (code << 1) | br.bit()
            length += 1
            if (length, code) in self.map:
                return self.map[(length, code)]
            if length > 15:
                raise ValueError("invalid huffman stream")


def _read_code(br: _BitReader, alphabet: int) -> _Huff:
    """One prefix code, simple or length-coded (spec §5.2)."""
    if br.bit():  # simple
        num = br.bit() + 1
        if br.bit():  # first symbol in 8 bits
            s0 = br.bits(8)
        else:
            s0 = br.bits(1)
        lengths = [0] * alphabet
        if num == 2:
            s1 = br.bits(8)
            lengths[s0] = lengths[s1] = 1
        else:
            lengths[s0] = 1  # becomes a 0-bit single code
        return _Huff(lengths)
    # full: code-length code first
    ncl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(ncl):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    cl = _Huff(cl_lengths)
    if br.bit():  # bounded number of coded symbols
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = cl.decode(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev = s
        elif s == 16:
            for _ in range(3 + br.bits(2)):
                if i < alphabet:
                    lengths[i] = prev
                    i += 1
        elif s == 17:
            i += 3 + br.bits(3)
        else:  # 18
            i += 11 + br.bits(7)
    return _Huff(lengths)


def _lz77_value(br: _BitReader, code: int) -> int:
    """Shared length/distance prefix decoding (spec §4.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _decode_image(br: _BitReader, w: int, h: int, level0: bool) -> np.ndarray:
    """Spatially-coded ARGB image (h, w) uint32 — the recursive core
    shared by the main image, entropy images, and transform data."""
    cache_bits = br.bits(4) if br.bit() else 0
    cache = [0] * (1 << cache_bits) if cache_bits else None
    groups_img, gbits = None, 0
    ngroups = 1
    if level0 and br.bit():  # meta huffman
        gbits = br.bits(3) + 2
        gw, gh = (w + (1 << gbits) - 1) >> gbits, (h + (1 << gbits) - 1) >> gbits
        groups_img = _decode_image(br, gw, gh, False)
        ids = ((groups_img >> 8) & 0xFFFF).astype(np.int64)
        ngroups = int(ids.max()) + 1
        groups_img = ids
    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(ngroups):
        groups.append(
            (
                _read_code(br, green_alpha),
                _read_code(br, 256),  # red
                _read_code(br, 256),  # blue
                _read_code(br, 256),  # alpha
                _read_code(br, 40),  # distance
            )
        )
    out = np.zeros(w * h, dtype=np.uint32)
    pos = 0
    n = w * h

    def _insert(px: int) -> None:
        cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while pos < n:
        if groups_img is not None:
            y, x = pos // w, pos % w
            g = groups[int(groups_img[(y >> gbits) * ((w + (1 << gbits) - 1) >> gbits) + (x >> gbits)])]
        else:
            g = groups[0]
        s = g[0].decode(br)
        if s < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            out[pos] = px
            pos += 1
            if cache is not None:
                _insert(px)
        elif s < 280:
            length = _lz77_value(br, s - 256)
            dcode = _lz77_value(br, g[4].decode(br))
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = _DIST_MAP[dcode - 1]
                dist = dx + dy * w
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("backref out of range")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache is not None:
                    _insert(px)
        else:
            px = cache[s - 280]
            out[pos] = px
            pos += 1
            if cache is not None:
                _insert(px)
    return out.reshape(h, w)


def _delta(t: int, c: int) -> int:
    """ColorTransformDelta: signed-8-bit product >> 5 (spec §4.2.1.2)."""
    t = t - 256 if t >= 128 else t
    c = c - 256 if c >= 128 else c
    return (t * c) >> 5


def _apply_inverse_transforms(argb: np.ndarray, transforms) -> np.ndarray:
    for kind, data in reversed(transforms):
        h, w = argb.shape
        if kind == 2:  # subtract green
            g = (argb >> 8) & 0xFF
            r = (((argb >> 16) & 0xFF) + g) & 0xFF
            b = ((argb & 0xFF) + g) & 0xFF
            argb = (argb & 0xFF00FF00) | (r << 16) | b
        elif kind == 3:  # color indexing
            palette, xsub, orig_w = data
            if xsub:
                per = 1 << xsub
                width_bits = 8 >> xsub
                mask = (1 << width_bits) - 1
                idx = np.zeros((h, orig_w), dtype=np.int64)
                packed = ((argb >> 8) & 0xFF).astype(np.int64)
                for x in range(orig_w):
                    idx[:, x] = (
                        packed[:, x >> xsub] >> ((x & (per - 1)) * width_bits)
                    ) & mask
            else:
                idx = ((argb >> 8) & 0xFF).astype(np.int64)
            if (idx >= len(palette)).any():
                raise ValueError("palette index out of range")
            argb = palette[idx]
        elif kind == 0:  # predictor
            bits, modes = data
            out = argb.astype(np.int64)
            res = argb.copy().astype(np.int64)
            bw = (w + (1 << bits) - 1) >> bits

            def chans(px):
                return np.array(
                    [(px >> 24) & 0xFF, (px >> 16) & 0xFF,
                     (px >> 8) & 0xFF, px & 0xFF], dtype=np.int64
                )

            def pack(c):
                c = c & 0xFF
                return (c[0] << 24) | (c[1] << 16) | (c[2] << 8) | c[3]

            def avg2(a, b):
                return (a + b) >> 1

            for y in range(h):
                for x in range(w):
                    if x == 0 and y == 0:
                        pred = np.array([0xFF, 0, 0, 0], dtype=np.int64)
                    elif y == 0:
                        pred = chans(out[y, x - 1])
                    elif x == 0:
                        pred = chans(out[y - 1, x])
                    else:
                        mode = int(
                            (modes[(y >> bits) * bw + (x >> bits)] >> 8)
                            & 0xFF
                        )
                        L = chans(out[y, x - 1])
                        T = chans(out[y - 1, x])
                        TL = chans(out[y - 1, x - 1])
                        TR = (
                            chans(out[y - 1, x + 1])
                            if x + 1 < w
                            # In the spec's contiguous-buffer addressing,
                            # index (y-1)*w + (x+1) at x == w-1 is y*w,
                            # i.e. the CURRENT row's leftmost (already
                            # decoded) pixel, not the row above's.
                            else chans(out[y, 0])
                        )
                        if mode == 0:
                            pred = np.array([0xFF, 0, 0, 0], dtype=np.int64)
                        elif mode == 1:
                            pred = L
                        elif mode == 2:
                            pred = T
                        elif mode == 3:
                            pred = TR
                        elif mode == 4:
                            pred = TL
                        elif mode == 5:
                            pred = avg2(avg2(L, TR), T)
                        elif mode == 6:
                            pred = avg2(L, TL)
                        elif mode == 7:
                            pred = avg2(L, T)
                        elif mode == 8:
                            pred = avg2(TL, T)
                        elif mode == 9:
                            pred = avg2(T, TR)
                        elif mode == 10:
                            pred = avg2(avg2(L, TL), avg2(T, TR))
                        elif mode == 11:  # select
                            p = L + T - TL
                            pl = np.abs(p - L).sum()
                            pt = np.abs(p - T).sum()
                            # Ties go to T (libwebp Select returns the
                            # top pixel when pa_minus_pb <= 0).
                            pred = L if pl < pt else T
                        elif mode == 12:  # clamp add subtract full
                            pred = np.clip(L + T - TL, 0, 255)
                        elif mode == 13:  # clamp add subtract half
                            a = avg2(L, T)
                            # (a - TL) / 2 with C semantics: truncation
                            # toward zero, not Python floor division.
                            d = a - TL
                            pred = np.clip(
                                a + np.sign(d) * (np.abs(d) >> 1), 0, 255
                            )
                        else:
                            raise ValueError(f"bad predictor mode {mode}")
                    out[y, x] = pack(chans(res[y, x]) + pred)
            argb = out.astype(np.uint32)
        elif kind == 1:  # cross-color
            bits, cdata = data
            bw = (w + (1 << bits) - 1) >> bits
            out = argb.copy()
            for y in range(h):
                for x in range(w):
                    cpx = int(cdata[(y >> bits) * bw + (x >> bits)])
                    g2r = cpx & 0xFF
                    g2b = (cpx >> 8) & 0xFF
                    r2b = (cpx >> 16) & 0xFF
                    px = int(out[y, x])
                    g = (px >> 8) & 0xFF
                    r = (((px >> 16) & 0xFF) + _delta(g2r, g)) & 0xFF
                    b = ((px & 0xFF) + _delta(g2b, g) + _delta(r2b, r)) & 0xFF
                    out[y, x] = (px & 0xFF00FF00) | (r << 16) | b
            argb = out
        else:
            raise ValueError(f"unknown transform {kind}")
    return argb


def decode_webp(data: bytes) -> np.ndarray:
    """Decode a lossless WebP to an (h, w, 4) RGBA uint8 array."""
    if not is_webp_lossless(bytes(data)):
        if len(data) >= 16 and data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            raise ValueError(
                f"unsupported WebP flavor {data[12:16]!r} (lossy VP8 / "
                "VP8X extended) — only VP8L lossless decodes here"
            )
        raise ValueError("not a WebP file")
    payload = data[20 : 20 + struct.unpack("<I", data[16:20])[0]]
    br = _BitReader(payload)
    if br.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()  # alpha hint
    if br.bits(3) != 0:
        raise ValueError("unknown VP8L version")
    transforms = []
    cur_w = w
    while br.bit():
        kind = br.bits(2)
        if kind == 2:
            transforms.append((2, None))
        elif kind == 0 or kind == 1:
            bits = br.bits(3) + 2
            tw = (cur_w + (1 << bits) - 1) >> bits
            th = (h + (1 << bits) - 1) >> bits
            tdata = _decode_image(br, tw, th, False).ravel()
            transforms.append((kind, (bits, tdata)))
        elif kind == 3:
            psize = br.bits(8) + 1
            praw = _decode_image(br, psize, 1, False).ravel().astype(np.int64)
            # palette entries are stored as per-channel deltas
            pal = np.zeros(psize, dtype=np.uint32)
            prev = 0
            for i in range(psize):
                a = (((prev >> 24) + (int(praw[i]) >> 24)) & 0xFF) << 24
                r = ((((prev >> 16) & 0xFF) + ((int(praw[i]) >> 16) & 0xFF)) & 0xFF) << 16
                g = ((((prev >> 8) & 0xFF) + ((int(praw[i]) >> 8) & 0xFF)) & 0xFF) << 8
                b = ((prev & 0xFF) + (int(praw[i]) & 0xFF)) & 0xFF
                prev = a | r | g | b
                pal[i] = prev
            if psize <= 2:
                xsub = 3
            elif psize <= 4:
                xsub = 2
            elif psize <= 16:
                xsub = 1
            else:
                xsub = 0
            transforms.append((3, (pal, xsub, cur_w)))
            cur_w = (cur_w + (1 << xsub) - 1) >> xsub if xsub else cur_w
    argb = _decode_image(br, cur_w, h, True)
    argb = _apply_inverse_transforms(argb, transforms)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = (argb >> 16) & 0xFF
    rgba[:, :, 1] = (argb >> 8) & 0xFF
    rgba[:, :, 2] = argb & 0xFF
    rgba[:, :, 3] = (argb >> 24) & 0xFF
    return rgba


# --------------------------------------------------------------------- #
# encoder (no-transform subset, conformant streams)
# --------------------------------------------------------------------- #


def _write_code(bw: _BitWriter, lengths) -> dict:
    """Emit a prefix code over at most TWO distinct code lengths; returns
    symbol -> (code, length) under the spec's canonical assignment (the
    same (length, symbol)-ordered walk _Huff performs).  With lengths from
    _complete_lengths the code is Kraft-complete, so strict table-building
    decoders (libwebp's BuildHuffmanTable) accept the stream.  The
    code-length code is the 1-bit {0, L} code for one data length, or the
    complete {0:'0', La:'10', Lb:'11'} code for two."""
    used = [s for s, l in enumerate(lengths) if l > 0]
    if len(used) == 1:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if used[0] < 2:
            bw.write(0, 1)
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        return {used[0]: (0, 0)}
    if len(used) == 2 and all(s < 256 for s in used):
        bw.write(1, 1)  # simple, two symbols
        bw.write(1, 1)
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(used[0], 8)
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    # full mode: code-length code over {0} + the distinct data lengths
    ds = sorted({lengths[s] for s in used})
    bw.write(0, 1)
    cl_lengths = [0] * 19
    cl_lengths[0] = 1
    if len(ds) == 1:
        cl_lengths[ds[0]] = 1
        cl_codes = {0: (0, 1), ds[0]: (1, 1)}
    else:
        cl_lengths[ds[0]] = 2
        cl_lengths[ds[1]] = 2
        cl_codes = {0: (0, 1), ds[0]: (2, 2), ds[1]: (3, 2)}
    ncl = 19  # emit all positions so every CL symbol is covered
    bw.write(ncl - 4, 4)
    for i in range(ncl):
        bw.write(cl_lengths[_CL_ORDER[i]], 3)
    bw.write(0, 1)  # no max-symbol bound
    for s in range(len(lengths)):
        c, cl = cl_codes[lengths[s]]
        for i in range(cl - 1, -1, -1):
            bw.write((c >> i) & 1, 1)
    # canonical data codes in (length, symbol) order
    nz = sorted((lengths[s], s) for s in used)
    table = {}
    code, prev = 0, nz[0][0]
    for length, sym in nz:
        code <<= length - prev
        prev = length
        table[sym] = (code, length)
        code += 1
    return table


def _complete_lengths(used, alphabet: int) -> list:
    """Kraft-COMPLETE code lengths for ``used`` symbols: with L =
    ceil(log2 n), the first 2^L - n symbols take length L-1 and the rest
    L, so sum(2^-len) == 1 exactly (n power of two -> uniform L)."""
    used = sorted(int(s) for s in used)
    n = len(used)
    lengths = [0] * alphabet
    if n == 1:
        lengths[used[0]] = 1  # simple single-symbol code
    elif n == 2:
        for s in used:
            lengths[s] = 1
    else:
        L = int(np.ceil(np.log2(n)))
        m = (1 << L) - n
        for j, s in enumerate(used):
            lengths[s] = L - 1 if j < m else L
    return lengths


def _emit(bw: _BitWriter, table: dict, sym: int) -> None:
    code, length = table[sym]
    for i in range(length - 1, -1, -1):  # MSB first into the LSB stream
        bw.write((code >> i) & 1, 1)


def encode_webp_lossless(arr: np.ndarray) -> bytes:
    """Encode (h, w, 3|4) uint8 as a conformant no-transform VP8L
    stream: single huffman group, no cache, literals only; per-channel
    Kraft-complete two-length canonical codes (_complete_lengths)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise ValueError("need (h, w, 3|4) uint8")
    h, w = a.shape[:2]
    if a.shape[2] == 3:
        alpha = np.full((h, w), 255, np.uint8)
    else:
        alpha = a[:, :, 3]
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if (alpha != 255).any() else 0, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta huffman

    tables = []
    for vals, alphabet in (
        (g, 256 + 24),
        (r, 256),
        (b, 256),
        (alpha, 256),
        (np.zeros(1, np.uint8), 40),  # distance: never emitted
    ):
        tables.append(
            _write_code(bw, _complete_lengths(np.unique(vals), alphabet))
        )
    tg, tr, tb, ta, _ = tables
    gf, rf, bf, af = g.ravel(), r.ravel(), b.ravel(), alpha.ravel()
    for i in range(h * w):
        _emit(bw, tg, int(gf[i]))
        _emit(bw, tr, int(rf[i]))
        _emit(bw, tb, int(bf[i]))
        _emit(bw, ta, int(af[i]))
    payload = bw.done()
    vp8l = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        vp8l += b"\x00"
    riff = b"WEBP" + vp8l
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
