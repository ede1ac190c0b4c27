"""Bit-level helpers: slot packing and rank/select over bitvectors.

The reference stores 64 slots of ``bits_per_slot`` bits packed per block
(include/gqf_int.h:38-58; unaligned extraction in src/gqf.c:516-548) and
navigates with broadword rank/select (src/gqf.c:297-446).  Here slots live
unpacked in the narrowest numpy dtype that fits (the analog of the
reference's compile-time QF_BITS_PER_SLOT specialization, gqf_int.h:25-35)
and are bit-packed only on serialization, so the wire format keeps the
reference's space footprint while in-memory ops stay whole-array vectorized.
Packing works a block at a time, as the reference lays it out: 64 slots of
bps bits are exactly bps words, so slot j of every block sits at the same
word and shift, and a few whole-array ops over a (blocks, 64) view pack
or unpack all blocks at once.

Rank/select runs on position arrays (``np.flatnonzero``) instead of per-word
broadword tricks — the batch-oriented equivalent: rank(q) =
``searchsorted(positions, q, 'right')`` and select(k) = ``positions[k-1]``.
"""

from __future__ import annotations

import functools

import numpy as np


def slot_dtype(bits_per_slot: int) -> np.dtype:
    """Narrowest unsigned dtype holding bits_per_slot-bit values."""
    if bits_per_slot <= 8:
        return np.dtype(np.uint8)
    if bits_per_slot <= 16:
        return np.dtype(np.uint16)
    if bits_per_slot <= 32:
        return np.dtype(np.uint32)
    return np.dtype(np.uint64)


@functools.lru_cache(maxsize=None)
def _block_layout(bits_per_slot: int):
    """Where the 64 slots of a block sit in its bps words: per slot j, the
    word holding its low bits and their shift; the first slot of each
    word; and the slots that straddle into the next word (which is always
    inside the block: the last slot ends exactly at the block's end)."""
    bit = np.arange(64, dtype=np.uint64) * np.uint64(bits_per_slot)
    word = (bit >> np.uint64(6)).astype(np.intp)
    shift = bit & np.uint64(63)
    first = np.flatnonzero(np.diff(word, prepend=-1))
    straddle = np.flatnonzero(shift + np.uint64(bits_per_slot) > np.uint64(64))
    spill = np.uint64(64) - shift[straddle]
    for a in (word, shift, first, straddle, spill):
        a.setflags(write=False)
    return word, shift, first, straddle, spill


def pack_slots(values: np.ndarray, bits_per_slot: int) -> bytes:
    """Pack values (< 2**bits_per_slot) into a little-endian bitstream.

    Block packing: 64 slots of bps bits fill exactly bps 64-bit words, so
    slot j of every block lands at the same word and shift.  Each array op
    covers all blocks at once: shift every slot into place, OR the slots
    of each word together (their bits are disjoint), then add the high
    bits of the slots that straddle a word boundary.  Byte-aligned widths
    (8/16/32/64) are a little-endian dtype view.
    """
    assert 1 <= bits_per_slot <= 64
    v = np.asarray(values).ravel()
    n = v.size
    if n == 0:
        return b""
    if bits_per_slot in (8, 16, 32, 64):
        if v.dtype.itemsize * 8 > bits_per_slot:
            v = v & ((1 << bits_per_slot) - 1)
        return v.astype(f"<u{bits_per_slot // 8}").tobytes()
    word, shift, first, straddle, spill = _block_layout(bits_per_slot)
    blocks = np.zeros((-(-n // 64), 64), dtype=np.uint64)
    blocks.ravel()[:n] = v
    blocks &= np.uint64((1 << bits_per_slot) - 1)
    words = np.bitwise_or.reduceat(blocks << shift, first, axis=1)
    words[:, word[straddle] + 1] |= blocks[:, straddle] >> spill
    return words.tobytes()[: (n * bits_per_slot + 7) // 8]


def unpack_slots(data: bytes, n: int, bits_per_slot: int) -> np.ndarray:
    """Inverse of :func:`pack_slots`; returns the narrow-dtype slot array."""
    assert 1 <= bits_per_slot <= 64
    dt = slot_dtype(bits_per_slot)
    if n == 0:
        return np.empty(0, dtype=dt)
    if bits_per_slot in (8, 16, 32, 64):
        return np.frombuffer(
            data, dtype=f"<u{bits_per_slot // 8}", count=n
        ).astype(dt)
    word, shift, _, straddle, spill = _block_layout(bits_per_slot)
    nbytes = -(-n // 64) * bits_per_slot * 8
    raw = np.frombuffer(data, dtype=np.uint8)[:nbytes]
    if raw.size < nbytes:  # the last block is partial
        raw = np.concatenate([raw, np.zeros(nbytes - raw.size, dtype=np.uint8)])
    words = raw.view("<u8").reshape(-1, bits_per_slot)
    slots = words[:, word]
    slots >>= shift
    slots[:, straddle] |= words[:, word[straddle] + 1] << spill
    slots &= np.uint64((1 << bits_per_slot) - 1)
    return slots.ravel()[:n].astype(dt)


def bits_to_words(bit_positions: np.ndarray, nwords: int) -> np.ndarray:
    """Scatter set-bit positions into a uint64 word array (occupieds /
    runends bitvectors, include/gqf_int.h:42-43)."""
    bitmap = np.zeros(nwords * 64, dtype=bool)
    bitmap[np.asarray(bit_positions, dtype=np.int64)] = True
    return np.packbits(bitmap, bitorder="little").view("<u8")


def words_to_bits(words: np.ndarray) -> np.ndarray:
    """Positions of set bits in a uint64 word array, ascending."""
    bits = np.unpackbits(
        np.ascontiguousarray(words, dtype=np.uint64).view(np.uint8),
        bitorder="little",
    )
    return np.flatnonzero(bits).astype(np.int64)


def popcount_words(words: np.ndarray) -> np.ndarray:
    """Per-word popcount (SWAR analog of the asm popcnt, src/gqf.c:265-272)."""
    v = np.ascontiguousarray(words, dtype=np.uint64)
    v = v - ((v >> np.uint64(1)) & np.uint64(0x5555555555555555))
    v = (v & np.uint64(0x3333333333333333)) + (
        (v >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    v = (v + (v >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (v * np.uint64(0x0101010101010101)) >> np.uint64(56)


def rank(positions: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """#set bits at position <= idx (reference bitrank, src/gqf.c:297-304),
    vectorized over a batch of query indices."""
    return np.searchsorted(positions, idx, side="right")


def select(positions: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Position of the k-th (1-indexed) set bit (reference _select64,
    src/gqf.c:323-424), vectorized; caller guarantees 1 <= k <= npositions."""
    return positions[np.asarray(k) - 1]
