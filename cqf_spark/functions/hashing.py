"""Bit-exact, numpy-vectorized ports of the reference hash family.

The reference hashes with MurmurHash64A (src/hashutil.c:23-64) in DEFAULT
mode and Thomas Wang's bijective ``hash_64``/``hash_64i``
(src/hashutil.c:132-181) in INVERTIBLE mode (dispatch at src/gqf.c:1918-1924).
Spark's built-in ``xxhash64``/``hash`` are different functions; byte-identical
hashes are required to reproduce the reference's false-positive behavior and
to cross-validate sketches, so these are implemented as pure uint64 numpy
arithmetic (wrapping mul/xor/shift) — vectorized over whole Arrow batches,
no per-row Python.
"""

from __future__ import annotations

import numpy as np

_M = np.uint64(0xC6A4A7935BD1E995)
_R = np.uint64(47)

_U64 = np.uint64


def murmur64a_u64(keys: np.ndarray, seed: int) -> np.ndarray:
    """MurmurHash64A of each key's 8-byte little-endian representation.

    Matches the reference's ``MurmurHash64A(&key, sizeof(key), seed)``
    (src/gqf.c:1920, src/hashutil.c:23-64): len=8 -> exactly one 8-byte body
    chunk, no tail.
    """
    k = np.ascontiguousarray(keys, dtype=np.uint64)
    init = (seed ^ ((8 * 0xC6A4A7935BD1E995) & 0xFFFFFFFFFFFFFFFF)) & 0xFFFFFFFFFFFFFFFF
    # one product array and one reused shift temporary; xor commutes, so
    # ``init ^ mix(k)`` is the reference's ``h ^= k`` on h = init
    h = np.multiply(k, _M)
    t = h >> _R
    h ^= t
    h *= _M
    h ^= _U64(init)
    for _ in range(2):
        h *= _M
        np.right_shift(h, _R, out=t)
        h ^= t
    return h


def _murmur_concat_core(
    flat: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed: int
) -> np.ndarray:
    """One-slice kernel for :func:`murmur64a_concat` (int32 index math;
    callers guarantee the slice's byte/row totals fit int32)."""
    n = int(lens.size)
    # longest-first order -> per-round active rows form a prefix.  Sort
    # the negated lengths in the narrowest signed dtype: numpy's stable
    # sort of 8- and 16-bit integers is a radix sort, several times
    # faster than its merge sort of int64
    neg = (-lens).astype(np.min_scalar_type(-int(lens.max())))
    order = np.argsort(neg, kind="stable").astype(np.int32)
    s_lens = lens[order]
    s_starts = starts[order]

    padded = (s_lens + 7) & ~np.int64(7)
    pstarts = np.zeros(n, dtype=np.int64)
    np.cumsum(padded[:-1], out=pstarts[1:])
    total = int(pstarts[-1] + padded[-1])
    buf = np.zeros(total, dtype=np.uint8)
    nb = int(s_lens.sum())
    if nb:
        # row-of-each-byte via boundary marks + cumsum (one int8 write per
        # row, no int64 repeat of row ids); sorted order puts zero-length
        # rows last, so boundaries below nb are distinct and plain
        # assignment marks them all.
        csum = np.cumsum(s_lens)
        bounds = csum[:-1]
        marks = np.zeros(nb, dtype=np.int8)
        marks[bounds[bounds < nb]] = 1
        row_of = np.cumsum(marks, dtype=np.int32)
        base = np.arange(nb, dtype=np.int32)
        rel = base - (csum - s_lens).astype(np.int32)[row_of]
        # rebase source offsets so they fit int32 even when `flat` is a
        # multi-GB large_string data buffer and this is a deep slice
        fmin = int(s_starts.min())
        fmax = int((s_starts + s_lens).max())
        if fmax - fmin <= np.iinfo(np.int32).max:
            src = (s_starts - fmin).astype(np.int32)[row_of] + rel
            buf[pstarts.astype(np.int32)[row_of] + rel] = flat[fmin:fmax][src]
        else:  # pathological: rows scattered across >2GB — int64 gather
            buf[pstarts[row_of] + rel] = flat[s_starts[row_of] + rel]
    words = buf.view("<u8")
    pw = pstarts >> 3

    m = _M
    h = _U64(seed) ^ (s_lens.astype(np.uint64) * m)
    nchunks = s_lens >> 3
    maxc = int(nchunks[0]) if n else 0
    # descending nchunks: rows with nchunks > j are exactly the first `a`
    asc = nchunks[::-1]  # ascending view for searchsorted
    for j in range(maxc):
        a = n - int(np.searchsorted(asc, j, side="right"))
        if a == 0:
            break
        k = words[pw[:a] + j]
        k = k * m
        k ^= k >> _R
        k *= m
        h[:a] = (h[:a] ^ k) * m

    tail = (s_lens & 7) > 0
    if tail.any():
        idx = np.flatnonzero(tail)
        # zero padding => words[pw + nchunks] is byte[t] << 8t summed over tail
        h[idx] = (h[idx] ^ words[pw[idx] + nchunks[idx]]) * m

    h ^= h >> _R
    h *= m
    h ^= h >> _R
    out = np.empty(n, dtype=np.uint64)
    out[order] = h
    return out


# slice budget: keeps every index temp a few MB so the first batch in a
# fresh python worker faults a bounded page set (~1ms/page on this VM),
# and later slices/batches reuse it (mallopt retention in __init__).
_CONCAT_MAX_ROWS = 1 << 19
_CONCAT_MAX_BYTES = 16 << 20


def murmur64a_concat(
    flat: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed: int
) -> np.ndarray:
    """MurmurHash64A of N variable-length byte strings stored in one flat
    uint8 buffer (``flat[starts[i] : starts[i]+lens[i]]`` is row i).

    Semantics identical to src/hashutil.c:23-64 for any length: 8-byte LE
    body chunks, then the 0-7 byte tail folded with the switch fallthrough
    (h ^= byte[t] << 8t for t < len&7, then h *= m once if the tail is
    non-empty), then the 3-step finalizer.

    Strategy (all 1-D — no (n, width) 2-D byte matrices): one scatter copies
    every row, zero-padded to a word boundary, into a packed word buffer;
    rows are processed longest-first so each body-chunk round is a prefix
    slice + 1-D word gather.  Zero padding makes the tail fold free: the
    row's final partial word *is* the reference's tail accumulator.
    Large inputs are processed in bounded slices (per-row independence)
    so index temporaries stay small and warm.
    """
    n = int(lens.size)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = lens.astype(np.int64, copy=False)
    starts = starts.astype(np.int64, copy=False)
    nb_total = int(lens.sum())
    if n <= _CONCAT_MAX_ROWS and nb_total <= _CONCAT_MAX_BYTES:
        return _murmur_concat_core(flat, starts, lens, seed)
    out = np.empty(n, dtype=np.uint64)
    csum = np.cumsum(lens)
    lo = 0
    while lo < n:
        hi = min(lo + _CONCAT_MAX_ROWS, n)
        base_bytes = int(csum[lo - 1]) if lo else 0
        # shrink hi until the slice's bytes fit the budget (always >= 1 row)
        while hi > lo + 1 and int(csum[hi - 1]) - base_bytes > _CONCAT_MAX_BYTES:
            hi = lo + max(1, (hi - lo) // 2)
        out[lo:hi] = _murmur_concat_core(flat, starts[lo:hi], lens[lo:hi], seed)
        lo = hi
    return out


def murmur64a_bytes(data: list[bytes] | np.ndarray, seed: int) -> np.ndarray:
    """MurmurHash64A over a list of byte strings (delegates to
    :func:`murmur64a_concat`; for Arrow columns prefer
    :func:`murmur64a_arrow`, which never materializes Python objects)."""
    if isinstance(data, np.ndarray) and data.dtype != object:
        data = list(data)
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    flat = np.frombuffer(b"".join(data), dtype=np.uint8)
    starts = np.cumsum(lens) - lens
    return murmur64a_concat(flat, starts, lens, seed)


def murmur64a_arrow(arr: "object", seed: int) -> np.ndarray:
    """MurmurHash64A over an Arrow string/binary array, straight from its
    (offsets, data) buffers — zero Python objects per row.  Nulls hash as
    the empty string (callers mask null rows out of builds/results).

    This is the hot path fix for VERDICT r01 #1: mapInArrow batches and
    ``pa.Array.from_pandas`` both land here, so token/n-gram/host builds and
    string probes are a single vectorized pass.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_dictionary(t):
        arr = arr.cast(t.value_type)
        t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        odt = np.int32
    elif pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        odt = np.int64
    elif pa.types.is_string_view(t) or pa.types.is_binary_view(t):
        arr = arr.cast(pa.large_binary())
        odt = np.int64
    else:
        arr = arr.cast(pa.string())
        odt = np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64, copy=False)
    flat = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    starts = offs[:-1]
    lens = offs[1:] - starts
    if arr.null_count:
        nulls = np.asarray(arr.is_null())
        lens = np.where(nulls, 0, lens)
    return murmur64a_concat(flat, starts, lens, seed)


def space_token_spans(
    vals: "object",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Byte spans of every ``split(" ")`` token of every doc, batch-at-once.

    ``vals`` is any pyarrow-convertible sequence of strings (pd.Series,
    list, pa.Array); nulls count as empty docs.  Returns ``(flat, starts,
    ends, tok_start, ntok)``: the shared UTF-8 data buffer, each token's
    byte span in it, each doc's first-token index, and each doc's token
    count (empty tokens preserved — exact ``str.split(" ")`` semantics,
    so every doc has >= 1 token).  One C-level Arrow conversion, then
    numpy splitting: no per-row or per-token Python.
    """
    import pyarrow as pa

    arr = vals if isinstance(vals, pa.Array) else pa.array(vals, pa.large_string())
    if arr.type != pa.large_string():
        arr = arr.cast(pa.large_string())
    n_docs = len(arr)
    if n_docs == 0:
        e = np.empty(0, dtype=np.int64)
        return np.empty(0, dtype=np.uint8), e, e, e, e
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[
        arr.offset : arr.offset + n_docs + 1
    ]
    flat = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    dstart = offs[:-1].copy()
    dend = offs[1:].copy()
    if arr.null_count:
        nulls = np.asarray(arr.is_null())
        dend[nulls] = dstart[nulls]  # null -> empty doc
    # docs are NOT joined: doc boundaries break tokens naturally; token
    # starts are doc starts plus post-space positions, ends are spaces
    # plus doc ends (UTF-8 continuation bytes are >= 0x80, so byte==0x20
    # is an exact separator)
    is_sp = flat[: int(offs[-1])] == 0x20
    sp = np.flatnonzero(is_sp)
    spcum = np.concatenate(([0], np.cumsum(is_sp)))
    ntok = (spcum[dend] - spcum[dstart]) + 1
    if arr.null_count:
        # exclude spaces in dead gap bytes (between live doc spans)
        live = np.zeros(is_sp.size + 1, dtype=np.int8)
        np.add.at(live, dstart, 1)
        np.add.at(live, dend, -1)
        sp = sp[np.cumsum(live[:-1])[sp] > 0]
    starts = np.sort(np.concatenate((dstart, sp + 1)), kind="stable")
    ends = np.sort(np.concatenate((sp, dend)), kind="stable")
    tok_start = np.cumsum(ntok) - ntok
    return flat, starts, ends, tok_start, ntok


def space_token_hashes(
    vals: "object", seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Murmur of every ``split(" ")`` token of every doc, batch-at-once.
    Returns ``(th, tok_start, ntok)`` — see :func:`space_token_spans`."""
    flat, starts, ends, tok_start, ntok = space_token_spans(vals)
    th = murmur64a_concat(flat, starts, ends - starts, seed)
    return th, tok_start, ntok


def hash_64(keys: np.ndarray, mask: int) -> np.ndarray:
    """Thomas Wang's bijective 64-bit hash (src/hashutil.c:132-142).

    A bijection on [0, mask+1) for mask = 2**k - 1, so INVERTIBLE-mode
    sketches have no false positives within key_bits.
    """
    mk = _U64(mask)
    key = np.ascontiguousarray(keys, dtype=np.uint64)
    key = (~key + (key << _U64(21))) & mk
    key = key ^ (key >> _U64(24))
    key = ((key + (key << _U64(3))) + (key << _U64(8))) & mk  # key * 265
    key = key ^ (key >> _U64(14))
    key = ((key + (key << _U64(2))) + (key << _U64(4))) & mk  # key * 21
    key = key ^ (key >> _U64(28))
    key = (key + (key << _U64(31))) & mk
    return key


def hash_64i(keys: np.ndarray, mask: int) -> np.ndarray:
    """Inverse of :func:`hash_64` (src/hashutil.c:146-181)."""
    mk = _U64(mask)
    key = np.ascontiguousarray(keys, dtype=np.uint64)

    # Invert key = key + (key << 31)
    tmp = key - (key << _U64(31))
    key = (key - (tmp << _U64(31))) & mk

    # Invert key = key ^ (key >> 28)
    tmp = key ^ (key >> _U64(28))
    key = key ^ (tmp >> _U64(28))

    # Invert key *= 21
    key = (key * _U64(14933078535860113213)) & mk

    # Invert key = key ^ (key >> 14)
    tmp = key ^ (key >> _U64(14))
    tmp = key ^ (tmp >> _U64(14))
    tmp = key ^ (tmp >> _U64(14))
    key = key ^ (tmp >> _U64(14))

    # Invert key *= 265
    key = (key * _U64(15244667743933553977)) & mk

    # Invert key = key ^ (key >> 24)
    tmp = key ^ (key >> _U64(24))
    key = key ^ (tmp >> _U64(24))

    # Invert key = (~key) + (key << 21)
    tmp = ~key
    tmp = ~(key - (tmp << _U64(21)))
    tmp = ~(key - (tmp << _U64(21)))
    key = ~(key - (tmp << _U64(21))) & mk
    return key


def fingerprint_bytes(data: bytes, seed: int = 0) -> int:
    """Fast 64-bit content fingerprint of one (possibly large) byte string.

    NOT the reference Murmur (which chains words sequentially and so can't
    vectorize over a single long input); this hashes all 8-byte words in
    one vectorized murmur64a_u64 pass keyed by position parity via an
    index mix, then xor-folds.  Used for checkpoint lineage validation
    (corruption detection), where any well-mixed hash suffices.
    """
    n = len(data)
    pad = (-n) % 8
    arr = np.frombuffer(data + b"\0" * pad, dtype="<u8")
    if arr.size == 0:
        return int(murmur64a_u64(np.array([n], dtype=np.uint64), seed)[0].astype(np.int64))
    mixed = murmur64a_u64(arr + np.arange(arr.size, dtype=np.uint64), seed ^ n)
    return int(np.bitwise_xor.reduce(mixed).astype(np.int64))
