"""The counting quotient filter, rebuilt numpy-first for Spark partitions.

Same logical structure as the reference (occupieds/runends bitvectors,
quotienting of the hash into home slot + remainder, variable-length embedded
counters, Robin-Hood-packed runs — include/gqf_int.h:38-58, src/gqf.c):
one sketch is an approximate multiset of ``(key, value, count)`` with
no false negatives and FP rate <= 2^-r at 95% load.

The *physical* strategy differs deliberately (SURVEY.md §4.3): because Spark
hands each partition's rows to us as whole Arrow batches, every mutation is a
**vectorized bulk rebuild** — sort the (hash, count) multiset, encode the
multi-slot counters, and place every counter left-to-right with the
canonical first-fit rule that incremental inserts converge to — instead of
the reference's per-key slot shifting (src/gqf.c:662-1022).  The rule puts
each counter at ``max(home slot, previous counter's end + 1)``; with
``base`` the slots used before each counter it unrolls into one pass,
``start = base + maximum.accumulate(quotient - base)`` (:meth:`Cqf.
_rebuild`).  The resulting layout is a pure function of the stored
multiset, which makes serialization **canonical**: any merge order yields
bit-identical bytes (the reference's merge-associativity property,
src/gqf.c:2432-2544, strengthened).

No per-row Python anywhere on the hot path; loops are only over digit
positions / automaton steps (O(log count), O(max run length)).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np

from .config import CqfConfig, CqfGeometry, HashMode
from .functions import bitpack
from .functions.counter import decode_runs, encode_counters
from .functions.hashing import hash_64, hash_64i, murmur64a_u64

_U64 = np.uint64

MAGIC = 0x50594351_46534B31  # "PYCQFSK1" — our wire format, not the
# reference's mmap image (MAGIC_NUMBER include/gqf_int.h:23); layout is
# columnar (offsets | occupieds | runends | packed slots) rather than
# per-block interleaved, same information + footprint.
_WIRE_VERSION = 1
_HEADER = struct.Struct("<QBBBBIQQQQ")  # magic, ver, mode, key_bits,
# value_bits, seed, qbits, nelts, ndistinct, noccupied

LOAD_FACTOR = 0.95  # reference capacity gate (src/gqf.c:1902-1914)
DISTANCE_FROM_HOME_SLOT_CUTOFF = 1000  # src/gqf.c:45, 1933-1958


class NoSpaceError(RuntimeError):
    """QF_NO_SPACE analog (include/gqf.h:76): sketch too small for content."""


def hash_keys(keys: np.ndarray, config: CqfConfig) -> np.ndarray:
    """Map raw uint64 keys into the hash universe [0, 2**key_bits).

    Mode dispatch mirrors src/gqf.c:1918-1924; range is a power of two so
    ``% range`` == masking.  NONE-mode keys are masked for safety (the
    reference would read out of bounds on an oversized pre-hash).
    """
    k = np.ascontiguousarray(keys, dtype=np.uint64)
    mask = _U64(config.range - 1) if config.key_bits < 64 else _U64(0xFFFFFFFFFFFFFFFF)
    if config.hash_mode == HashMode.DEFAULT:
        return murmur64a_u64(k, config.seed) & mask
    if config.hash_mode == HashMode.INVERTIBLE:
        return hash_64(k & mask, int(mask))
    return k & mask


def _packed_hashes(
    keys: np.ndarray, values: np.ndarray | None, config: CqfConfig
) -> np.ndarray:
    """Key hashes with the value bits packed below them (src/gqf.c:1925-1926);
    absent ``values`` pack as 0."""
    h = hash_keys(keys, config)
    vb = config.value_bits
    if vb:
        vmask = _U64((1 << vb) - 1)
        v = (
            np.zeros(h.size, dtype=np.uint64)
            if values is None
            else np.ascontiguousarray(values, dtype=np.uint64) & vmask
        )
        h = (h << _U64(vb)) | v
    return h


def _aggregate(
    hashes: np.ndarray, counts: np.ndarray | None
) -> tuple[np.ndarray, np.ndarray]:
    """Sorted distinct hashes and their summed counts (1 per row when
    ``counts`` is None).  Every temporary dies on return, so none of them
    is alive during the layout pass that follows."""
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    if counts is None:
        hu, cu = np.unique(h, return_counts=True)
        return hu, cu.astype(np.uint64)
    c = np.ascontiguousarray(counts)
    if h.size == 0:
        return h, c
    order = np.argsort(h, kind="stable")
    hs, cs = h[order], c[order]
    del order
    starts = np.flatnonzero(np.concatenate(([True], hs[1:] != hs[:-1])))
    return hs[starts], np.add.reduceat(cs, starts)


def unhash_keys(hashes: np.ndarray, config: CqfConfig) -> np.ndarray:
    """Recover keys from INVERTIBLE-mode hashes (src/gqf.c:2327-2341)."""
    if config.hash_mode != HashMode.INVERTIBLE:
        raise ValueError("keys are only recoverable in INVERTIBLE mode "
                         "(qfi_get_key returns QF_INVALID otherwise)")
    mask = (1 << config.key_bits) - 1
    return hash_64i(hashes, mask)


@dataclass
class _Decoded:
    hashes: np.ndarray       # uint64, ascending — full (key<<vb)|value hashes
    counts: np.ndarray       # uint64
    slot_index: np.ndarray   # int64 — first slot of each counter encoding


class Cqf:
    """One counting-quotient-filter sketch (single partition's worth).

    Content state is the multiset {(hash, count)}; physical state is the
    canonical block layout derived from it.  Batch mutators go through
    :meth:`_rebuild` and single-key ones through :meth:`_splice`; both
    produce the canonical layout, keeping serialization canonical.
    """

    def __init__(
        self,
        config: CqfConfig,
        qbits: int,
        *,
        _hashes: np.ndarray | None = None,
        _counts: np.ndarray | None = None,
    ) -> None:
        self.config = config
        self.geom: CqfGeometry = config.geometry(qbits)
        self.auto_resize = False  # qf_set_auto_resize state (off, as qf_init)
        self._decoded: _Decoded | None = None
        h = _hashes if _hashes is not None else np.empty(0, dtype=np.uint64)
        c = _counts if _counts is not None else np.empty(0, dtype=np.uint64)
        self._rebuild(h, c)

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #

    @classmethod
    def empty(cls, config: CqfConfig, qbits: int) -> "Cqf":
        """qf_init analog (src/gqf.c:1617-1701)."""
        return cls(config, qbits)

    @classmethod
    def from_hashes(
        cls,
        config: CqfConfig,
        hashes: np.ndarray,
        counts: np.ndarray | None = None,
        qbits: int | None = None,
        auto_resize: bool = True,
        min_qbits: int | None = None,
    ) -> "Cqf":
        """Bulk-build from in-universe hashes (QF_KEY_IS_HASH path).

        ``counts`` defaults to 1 per row; duplicate hashes aggregate.  If the
        sketch overflows the 95% load rule the quotient doubles and the build
        retries — the vectorized analog of auto-resize (src/gqf.c:1902-1914,
        1819-1889).  ``min_qbits`` floors the auto-chosen size (merge uses
        it so capacity never shrinks) without pinning it the way ``qbits``
        does.
        """
        hu, cu = _aggregate(
            hashes,
            None if counts is None else np.ascontiguousarray(counts, np.uint64),
        )
        # drop the raw input before the layout pass: when the caller handed
        # over a temporary (from_keys' hashes, merge_many's concatenations)
        # this frees it
        del hashes, counts
        if qbits is None:
            qbits = max(config.qbits_for(int(hu.size)), min_qbits or 0)
        while True:
            try:
                return cls(config, qbits, _hashes=hu, _counts=cu)
            except NoSpaceError:
                if not auto_resize:
                    raise
                if qbits >= config.key_bits - 2:
                    raise
                qbits += 1

    @classmethod
    def from_keys(
        cls,
        config: CqfConfig,
        keys: np.ndarray,
        counts: np.ndarray | None = None,
        values: np.ndarray | None = None,
        qbits: int | None = None,
        auto_resize: bool = True,
    ) -> "Cqf":
        """qf_insert-equivalent bulk build from raw keys (src/gqf.c:1899-1960):
        hash per mode, pack value bits, aggregate, build."""
        return cls.from_hashes(
            config, _packed_hashes(keys, values, config), counts, qbits,
            auto_resize,
        )

    # ------------------------------------------------------------------ #
    # canonical bulk layout (SURVEY.md §4.3)
    # ------------------------------------------------------------------ #

    def _rebuild(self, hashes: np.ndarray, counts: np.ndarray) -> None:
        """Lay out the multiset: runs in quotient order, remainders ascending
        within a run (the invariant incremental inserts maintain,
        src/gqf.c:1244-1264), each run at max(home_slot, prev_end + 1).

        Placement works per counter, not per slot.  With ``base[i]`` the
        slots used before counter ``i`` (``arange(n)`` when every count is
        1, else the exclusive cumsum of the counter lengths), counter ``i``
        starts at ``max(q_i, start[i-1] + len[i-1])``, which unrolls to

            start = base + maximum.accumulate(quotient - base)

        (inside a run ``q_i`` never exceeds the previous counter's end, so
        the rule holds for every counter, not just a run's first).  Count-1
        counters are their remainder, written at ``start``; only the
        ``counts > 1`` subset goes through ``encode_counters``, and its
        slot sequences are scattered at those counters' starts.  A run ends
        at its last counter's ``start + length - 1``."""
        geom = self.geom
        bps = geom.bits_per_slot
        keep = counts > 0
        if not keep.all():
            hashes, counts = hashes[keep], counts[keep]
        n = hashes.size

        self.nelts = int(counts.sum())
        self.ndistinct = n

        if n == 0:
            self.noccupied = 0
            self.slots = np.zeros(geom.total_slots, dtype=bitpack.slot_dtype(bps))
            self.occ_pos = np.empty(0, dtype=np.int64)
            self.runend_pos = np.empty(0, dtype=np.int64)
            self.offsets = np.zeros(geom.nblocks, dtype=np.uint8)
            self.max_displacement = 0
            self._decoded = _Decoded(hashes, counts, np.empty(0, dtype=np.int64))
            return

        # fast-fail before any layout work: every distinct entry occupies at
        # least one slot, so n alone proves overflow — doomed auto-resize
        # attempts cost O(1) instead of a full encode+placement pass
        if n > int(LOAD_FACTOR * geom.nslots):
            raise NoSpaceError(
                f"{n} distinct entries > 95% of {geom.nslots} slots"
            )

        # bps >= 1, so every quotient fits int64
        quotients = (hashes >> _U64(bps)).view(np.int64)
        if int(quotients[-1]) >= geom.nslots:
            raise ValueError("hash outside universe for this geometry")
        rmask = _U64((1 << bps) - 1)

        multi = np.flatnonzero(counts > 1)
        sub_flat, sub_len = encode_counters(
            hashes[multi] & rmask, counts[multi], bps
        )
        if multi.size:
            # base = exclusive cumsum of the counter lengths
            lengths = np.ones(n, dtype=np.int64)
            lengths[multi] = sub_len
            base = np.empty(n, dtype=np.int64)
            base[0] = 0
            np.cumsum(lengths[:-1], out=base[1:])
            total_used = int(base[-1] + lengths[-1])
            del lengths
        else:
            base = np.arange(n, dtype=np.int64)
            total_used = n

        # a run's last counter is followed by a new quotient
        is_last = np.empty(n, dtype=bool)
        np.not_equal(quotients[1:], quotients[:-1], out=is_last[:-1])
        is_last[-1] = True
        last = np.flatnonzero(is_last)
        run_quot = quotients.take(last)

        start = quotients - base
        np.maximum.accumulate(start, out=start)
        start += base
        del base
        # a run ends at its last counter's start + length - 1; only a
        # multi-slot last counter ends past its start
        ends = start.take(last)
        if multi.size:
            ml = is_last.take(multi)
            ends[np.searchsorted(last, multi[ml])] += sub_len[ml] - 1
        del is_last, last

        if total_used > int(LOAD_FACTOR * geom.nslots):
            raise NoSpaceError(
                f"{total_used} occupied slots > 95% of {geom.nslots}"
            )
        if int(ends[-1]) >= geom.total_slots:
            raise NoSpaceError("run placement overflows the xnslots runway")
        # run r starts at max(q_r, ends[r-1] + 1), and run 0 at its home
        disp = ends[:-1] + 1
        disp -= run_quot[1:]
        self.max_displacement = max(0, int(disp.max())) if disp.size else 0
        del disp
        if self.max_displacement > DISTANCE_FROM_HOME_SLOT_CUTOFF:
            raise NoSpaceError(
                "home-slot displacement exceeds cutoff (src/gqf.c:45)"
            )

        # physical arrays: every counter's first slot is its remainder;
        # the multi-slot encodings then overwrite their whole span
        slots = np.zeros(geom.total_slots, dtype=bitpack.slot_dtype(bps))
        rem = hashes.astype(slots.dtype)
        if slots.dtype.itemsize * 8 != bps:
            rem &= rmask.astype(slots.dtype)
        slots[start] = rem
        del rem
        if multi.size:
            sub_first = np.cumsum(sub_len)
            sub_first -= sub_len
            dst = np.repeat(start.take(multi) - sub_first, sub_len)
            dst += np.arange(sub_flat.size, dtype=np.int64)
            slots[dst] = sub_flat.astype(slots.dtype)

        self.slots = slots
        self.occ_pos = run_quot
        self.runend_pos = ends
        self.noccupied = total_used

        # per-block offsets: offset[b] = clamp(run_end(64b-1) - (64b-1), 0, 255)
        # (saturating uint8 cache, include/gqf_int.h:41, src/gqf.c:554-565)
        boundary = np.arange(1, geom.nblocks, dtype=np.int64) * 64 - 1
        j = np.searchsorted(run_quot, boundary, side="right") - 1
        spill = np.zeros(boundary.size, dtype=np.int64)
        valid = j >= 0
        spill[valid] = np.maximum(ends[j[valid]] - boundary[valid], 0)
        self.offsets = np.zeros(geom.nblocks, dtype=np.uint8)
        self.offsets[1:] = np.minimum(spill, 255).astype(np.uint8)

        # the content is already decoded: keep it rather than have the
        # first probe re-derive it from the slots (decode_runs)
        self._decoded = _Decoded(hashes, counts, start)

    # ------------------------------------------------------------------ #
    # decode / iterate (src/gqf.c:2191-2419)
    # ------------------------------------------------------------------ #

    def _decode(self) -> _Decoded:
        if self._decoded is None:
            if self.occ_pos.size == 0:
                self._decoded = _Decoded(
                    np.empty(0, dtype=np.uint64),
                    np.empty(0, dtype=np.uint64),
                    np.empty(0, dtype=np.int64),
                )
            else:
                run_starts = np.empty_like(self.runend_pos)
                run_starts[0] = self.occ_pos[0]
                run_starts[1:] = np.maximum(
                    self.occ_pos[1:], self.runend_pos[:-1] + 1
                )
                ri, rem, cnt, pos = decode_runs(
                    self.slots,
                    run_starts,
                    self.runend_pos,
                    self.geom.bits_per_slot,
                )
                # a corrupt blob can pass the CRC (it covers the bytes, not
                # the encoding) but not its own header
                total = int(cnt.sum(dtype=np.uint64))
                if (rem.size, total) != (self.ndistinct, self.nelts % (1 << 64)):
                    raise ValueError(
                        f"corrupt sketch: slots decode to {rem.size} distinct"
                        f" / {total} total, header says {self.ndistinct} /"
                        f" {self.nelts}"
                    )
                hashes = self.occ_pos.take(ri).view(np.uint64)
                hashes <<= _U64(self.geom.bits_per_slot)
                hashes |= rem
                self._decoded = _Decoded(hashes, cnt, pos)
        return self._decoded

    def items(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(key_hash, value, count) in ascending hash order — the iterator
        surface (qfi_get, src/gqf.c:2310-2348), fully decoded."""
        d = self._decode()
        vb = self.config.value_bits
        if vb:
            vmask = _U64((1 << vb) - 1)
            return d.hashes >> _U64(vb), d.hashes & vmask, d.counts
        return d.hashes, np.zeros_like(d.hashes), d.counts

    def keys(self) -> np.ndarray:
        """Recovered original keys (INVERTIBLE mode only)."""
        kh, _, _ = self.items()
        return unhash_keys(kh, self.config)

    def items_from(self, key: int) -> tuple[np.ndarray, np.ndarray]:
        """Range scan: (hash, count) for stored hashes >= hash(key)
        (qf_iterator_from_key_value, src/gqf.c:2234-2308)."""
        d = self._decode()
        h = int(hash_keys(np.array([key], dtype=np.uint64), self.config)[0])
        h <<= self.config.value_bits
        i = int(np.searchsorted(d.hashes, _U64(h), side="left"))
        return d.hashes[i:], d.counts[i:]

    # ------------------------------------------------------------------ #
    # queries (src/gqf.c:2018-2132)
    # ------------------------------------------------------------------ #

    def _locate(
        self, hashes: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The one probe kernel.  Returns ``(order, pos, found)``, all in
        sorted needle order: ``order[i]`` is the caller's row of the i-th
        sorted needle, ``pos[i]`` its left insertion index into the
        decoded hashes, and ``found[i]`` whether that slot holds it.

        Needles are sorted as one packed uint64 word each, ``(h >> s) <<
        ib | row`` with ``ib = bit_length(n - 1)`` row bits and the shift
        ``s`` just large enough for the word to fit 64 bits.  ``ndarray.
        sort`` on that word is numpy's vectorized sort, several times
        faster than ``argsort`` (CLAUDE.md), and the low ``ib`` bits give
        the order back.  When the hash and row bits fit (``s == 0``, e.g.
        30-bit hashes and up to 2**34 probes) the order is exact hash
        order; otherwise needles that tie on the kept prefix stay in row
        order.  That only costs cache locality: ``searchsorted`` is exact
        for any needle order, and starts each sorted needle's search from
        the previous one's bound, so neighbouring searches touch
        neighbouring cache lines instead of missing on nearly every step.

        Callers gather their per-hash arrays at ``pos`` in this sorted
        order, which walks the decoded arrays nearly sequentially, and
        scatter once through ``order`` back to the caller's rows
        (:meth:`_scatter`)."""
        d = self._decode()
        h = np.ascontiguousarray(hashes, dtype=np.uint64)
        n = h.size
        ib = max(1, (n - 1).bit_length())
        hbits = self.config.key_bits + self.config.value_bits
        shift = max(0, hbits + ib - 64)
        word = h >> _U64(shift)
        word <<= _U64(ib)
        word |= np.arange(n, dtype=np.uint64)
        word.sort()
        # when no bit of any hash was shifted out at either end (always
        # for in-universe hashes with s == 0), the sorted word holds the
        # whole hash: read the sorted needles off it instead of gathering
        whole = shift == 0 and (n == 0 or int(h.max()) >> (64 - ib) == 0)
        hs = word >> _U64(ib) if whole else None
        word &= _U64((1 << ib) - 1)
        order = word.view(np.int64)
        if hs is None:
            hs = h[order]
        pos = np.searchsorted(d.hashes, hs, side="left")
        if d.hashes.size:
            found = d.hashes.take(pos, mode="clip") == hs
        else:
            found = np.zeros(n, dtype=bool)
        return order, pos, found

    @staticmethod
    def _scatter(
        src: np.ndarray,
        order: np.ndarray,
        pos: np.ndarray,
        found: np.ndarray,
        fill: int,
    ) -> np.ndarray:
        """``src[pos]`` where ``found`` else ``fill``, gathered in sorted
        needle order and scattered once into the caller's row order."""
        out = np.empty(order.size, dtype=src.dtype)
        if src.size == 0:
            out.fill(fill)
            return out
        got = src.take(pos, mode="clip")
        got[~found] = fill
        out[order] = got
        return out

    def count_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Multiplicity per pre-hashed probe; 0 = definitely absent."""
        order, pos, found = self._locate(hashes)
        return self._scatter(self._decode().counts, order, pos, found, 0)

    def count(self, keys: np.ndarray, values: np.ndarray | None = None) -> np.ndarray:
        """qf_count_key_value (src/gqf.c:2018-2054), vectorized over probes."""
        return self.count_hashes(_packed_hashes(keys, values, self.config))

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Approximate membership: no false negatives, FP <= 2^-r * load."""
        return self.count(keys) > 0

    def query(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """qf_query (src/gqf.c:2056-2093): per key, total count across all
        values plus the first stored value."""
        return self.query_hashes(hash_keys(keys, self.config))

    def query_hashes(self, key_hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """:meth:`query` over key hashes (``hash_keys`` output, without
        value bits)."""
        d = self._decode()
        vb = self.config.value_bits
        lo = np.ascontiguousarray(key_hashes, dtype=np.uint64) << _U64(vb)
        order, first, found = self._locate(lo)
        vmask = _U64((1 << vb) - 1)
        if vb:
            # some value of the key is stored iff the right insertion index
            # of the key's last possible hash lies past its first position
            hi = lo[order]
            hi |= vmask
            found = np.searchsorted(d.hashes, hi, side="right") > first
        # count and value of the key's first stored entry (the reference
        # returns the first match's count)
        counts = self._scatter(d.counts, order, first, found, 0)
        values = self._scatter(d.hashes, order, first, found, 0)
        values &= vmask
        return counts, values

    def unique_index(self, key: int, value: int = 0) -> int:
        """qf_get_unique_index (src/gqf.c:2095-2132): slot index of the key's
        counter (a perfect-hash-style handle, stable until mutation)."""
        return int(
            self.unique_indexes(
                np.array([key], dtype=np.uint64),
                np.array([value], dtype=np.uint64),
            )[0]
        )

    def unique_indexes(
        self, keys: np.ndarray, values: np.ndarray | None = None
    ) -> np.ndarray:
        """Vectorized :meth:`unique_index` (qf_get_unique_index,
        src/gqf.c:2095-2132): per key, the slot index of its counter, or
        -1 when absent.  Indexes are unique per present key and stable
        until mutation — the perfect-hash handle contract."""
        return self.unique_index_hashes(
            _packed_hashes(np.ascontiguousarray(keys, np.uint64), values, self.config)
        )

    def unique_index_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """:meth:`unique_indexes` over pre-hashed, value-packed probes."""
        order, pos, found = self._locate(hashes)
        return self._scatter(self._decode().slot_index, order, pos, found, -1)

    def count_navigate(self, keys: np.ndarray) -> np.ndarray:
        """The authentic rank/select query path (src/gqf.c:2018-2054 over
        run_end, src/gqf.c:567-616) — used to cross-check the decoded path.

        rank(occupieds, q) via searchsorted on occupied positions; select
        (runends, k) via direct indexing; then a vectorized scan of the
        run's counters.
        """
        geom = self.geom
        h = _packed_hashes(keys, None, self.config)
        bps = geom.bits_per_slot
        q = (h >> _U64(bps)).astype(np.int64)
        rem = h & _U64((1 << bps) - 1)
        out = np.zeros(h.size, dtype=np.uint64)

        ranks = bitpack.rank(self.occ_pos, q)  # occupieds rank through q
        occupied = np.zeros(h.size, dtype=bool)
        nz = ranks > 0
        occupied[nz] = self.occ_pos[ranks[nz] - 1] == q[nz]
        if not occupied.any():
            return out
        oi = np.flatnonzero(occupied)
        r_end = self.runend_pos[ranks[oi] - 1]
        prev = ranks[oi] - 1
        r_start = np.where(
            prev > 0, self.runend_pos[np.maximum(prev - 1, 0)] + 1, 0
        )
        r_start = np.maximum(r_start, q[oi])
        ri, rrem, rcnt, _ = decode_runs(self.slots, r_start, r_end, bps)
        # match probe remainder within its run's decoded counters
        order = np.lexsort((rrem, ri))
        key2 = (ri[order].astype(np.uint64) << _U64(bps)) | rrem[order]
        probe = (np.arange(oi.size, dtype=np.uint64) << _U64(bps)) | rem[oi]
        j = np.searchsorted(key2, probe, side="left")
        okj = j < key2.size
        hitp = okj.copy()
        hitp[okj] = key2[j[okj]] == probe[okj]
        out[oi[hitp]] = rcnt[order][j[hitp]]
        return out

    # ------------------------------------------------------------------ #
    # mutation: batches rebuild, single keys splice
    #
    # Batch mutations (insert/remove with a k-row batch, subtract) decode
    # and canonically REBUILD the whole sketch: one O(N + k log k) pass,
    # and the canonical layout is what makes serialization merge-order-
    # invariant (bit-identical bytes regardless of build order), which the
    # distributed correctness story rests on.  Single-key updates
    # (insert1/remove1, and set_count/delete_key_value on a physical copy)
    # instead splice the affected cluster in place, the reference's
    # O(cluster) cost model (insert1/_remove, src/gqf.c:1183-1553); see
    # _splice below.  Its result is byte-identical to the rebuild.  For
    # throughput, batch the keys or use the streaming LSM builder
    # (streaming.StreamingSketchBuilder) — README "Cost model" section.
    # ------------------------------------------------------------------ #

    def _apply_delta(self, hashes: np.ndarray, deltas: np.ndarray) -> "Cqf":
        d = self._decode()
        hu, cu = _aggregate(
            np.concatenate([d.hashes, hashes.astype(np.uint64)]),
            np.concatenate([d.counts.astype(np.int64), deltas]),
        )
        return Cqf(
            self.config,
            self.geom.qbits,
            _hashes=hu,
            _counts=np.maximum(cu, 0).astype(np.uint64),  # clamp (gqf.c:1996)
        )

    # ------------------------------------------------------------------ #
    # in-place single-key splice (insert1/_remove, src/gqf.c:1183-1553)
    #
    # The reference updates one counter by shifting the slots of the
    # affected cluster; everything outside the cluster is untouched.  The
    # splice below reproduces that cost model on the canonical layout:
    # re-encode ONE run, then re-place only the runs whose position the
    # length change disturbs (the cluster), stopping at the first run
    # whose placement is unchanged.  The result is byte-identical to a
    # full canonical rebuild (pinned by tests/test_round4.py), so
    # serialization stays merge-order-invariant.  Cost: O(cluster slots
    # + log #runs); a run-count change additionally pays one flat
    # memcpy of the run-index arrays (np.insert/np.delete) — the
    # reference's bitvector variant avoids that memcpy, but it is a
    # straight-line copy, not a re-encode, and is ~100x cheaper than the
    # O(N log N) rebuild these entry points previously performed.
    # ------------------------------------------------------------------ #

    _SPLICE_CHUNK = 4096

    def _splice(self, h: int, delta: int | None, set_to: int | None = None) -> int:
        """Apply a count change for one full hash IN PLACE.

        ``delta`` adds (clamped at zero, src/gqf.c:1996); ``set_to``
        overrides with an absolute count (qf_set_count semantics).
        Returns the applied count change.  Raises NoSpaceError (before
        any mutation) if the splice would break the 95% load rule, the
        runway, or the displacement cutoff — same gates as _rebuild.
        """
        geom = self.geom
        bps = geom.bits_per_slot
        h = int(h)
        q = h >> bps
        r = np.uint64(h & ((1 << bps) - 1))
        if q >= geom.nslots:
            raise ValueError("hash outside universe for this geometry")

        occ_old = self.occ_pos
        re_old = self.runend_pos
        j = int(np.searchsorted(occ_old, q))
        exists = j < occ_old.size and int(occ_old[j]) == q

        # ---- decode the one affected run, apply the count change ----- #
        if exists:
            rs = int(occ_old[j]) if j == 0 else max(
                int(occ_old[j]), int(re_old[j - 1]) + 1
            )
            re = int(re_old[j])
            # decode only the run's slice — never copy the whole array
            _, rems, cnts, _ = decode_runs(
                self.slots[rs : re + 1],
                np.array([0], dtype=np.int64),
                np.array([re - rs], dtype=np.int64),
                bps,
            )
            old_len = re - rs + 1
            i = int(np.searchsorted(rems, r))
            hit = i < rems.size and rems[i] == r
            old_cnt = int(cnts[i]) if hit else 0
        else:
            old_len, old_cnt, hit, i = 0, 0, False, 0
            rems = np.empty(0, dtype=np.uint64)
            cnts = np.empty(0, dtype=np.uint64)

        new_cnt = set_to if set_to is not None else old_cnt + delta
        new_cnt = max(int(new_cnt), 0)
        if new_cnt == old_cnt:
            return 0
        if hit and new_cnt:
            cnts = cnts.copy()
            cnts[i] = np.uint64(new_cnt)
        elif hit:
            rems = np.concatenate([rems[:i], rems[i + 1 :]])
            cnts = np.concatenate([cnts[:i], cnts[i + 1 :]])
        else:
            one = np.array([r], dtype=np.uint64)
            rems = np.concatenate([rems[:i], one, rems[i:]])
            cnts = np.concatenate(
                [cnts[:i], np.array([new_cnt], dtype=np.uint64), cnts[i:]]
            )

        if rems.size:
            flat, lens = encode_counters(rems, cnts, bps)
            new_len = int(lens.sum())
        else:
            flat = np.empty(0, dtype=np.uint64)
            new_len = 0
        d_len = new_len - old_len
        d_dist = (0 if hit else 1) - (1 if (hit and new_cnt == 0) else 0)

        if self.noccupied + d_len > int(LOAD_FACTOR * geom.nslots):
            raise NoSpaceError(
                f"{self.noccupied + d_len} occupied slots > 95% of {geom.nslots}"
            )

        # ---- fast path: run length unchanged, rewrite in place ------- #
        if exists and new_len == old_len and new_len > 0:
            self.slots[rs : re + 1] = flat.astype(self.slots.dtype)
            self.nelts += new_cnt - old_cnt
            self.ndistinct += d_dist
            self._decoded = None
            return new_cnt - old_cnt

        # ---- new run-index arrays (edited run at new index j) -------- #
        if exists and new_len == 0:
            case = -1  # run removed
            occ_new = np.concatenate([occ_old[:j], occ_old[j + 1 :]])
            re_new = np.concatenate([re_old[:j], re_old[j + 1 :]])
        elif not exists:
            case = 1  # run inserted
            qv = np.array([q], dtype=occ_old.dtype)
            occ_new = np.concatenate([occ_old[:j], qv, occ_old[j:]])
            re_new = np.concatenate([re_old[:j], qv, re_old[j:]])  # placeholder
        else:
            case = 0  # run resized
            occ_new = occ_old
            re_new = re_old  # region slice reassigned below
        n_runs = occ_new.size

        # ---- re-place runs from j until placement stabilizes --------- #
        # ends_t = A_t + max(p, max_{k<=t}(q_k - S_k - 1)) with A=cumsum
        # of lengths, S=A-L, seeded by the previous run's end p — the
        # _rebuild placement scan, windowed.
        p = int(re_new[j - 1]) if j > 0 else -1
        reg_ends: list[np.ndarray] = []
        reg_lens: list[np.ndarray] = []
        stop = n_runs
        t0 = j
        chunk = 8  # most splices stabilize within a few runs; grow 8x
        while t0 < n_runs:
            t1 = min(t0 + chunk, n_runs)
            chunk = min(chunk * 8, self._SPLICE_CHUNK)
            t = np.arange(t0, t1, dtype=np.int64)
            o = t + (1 if case == -1 else (-1 if case == 1 else 0))
            qs = occ_new[t0:t1].astype(np.int64)
            # old lengths from the OLD arrays (valid except at t == j
            # when the edited run is new)
            if occ_old.size:
                osafe = np.clip(o, 0, occ_old.size - 1)
                o_prev = np.where(
                    o > 0, re_old[np.maximum(osafe - 1, 0)], -1
                )
                o_starts = np.maximum(occ_old[osafe], o_prev + 1)
                L = re_old[osafe] - o_starts + 1
                old_ends = re_old[osafe]
            else:
                L = np.zeros(t.size, dtype=np.int64)
                old_ends = np.full(t.size, -1, dtype=np.int64)
            if case != -1 and t0 == j:
                L[0] = new_len
            csum = np.cumsum(L)
            S = csum - L
            m = np.maximum.accumulate(qs - S - 1)
            ends = csum + np.maximum(m, p)
            # stabilized: an un-edited run whose new end equals its old end
            ok_t = (ends == old_ends) & (o >= 0) & (o < occ_old.size)
            if case != -1 and t0 == j:
                ok_t[0] = False
            hits = np.flatnonzero(ok_t)
            if hits.size:
                cut = int(hits[0])
                reg_ends.append(ends[:cut])
                reg_lens.append(L[:cut])
                stop = t0 + cut
                break
            reg_ends.append(ends)
            reg_lens.append(L)
            if t.size:
                p = int(ends[-1])
            t0 = t1

        new_ends = (
            np.concatenate(reg_ends) if reg_ends else np.empty(0, dtype=np.int64)
        )
        new_lens = (
            np.concatenate(reg_lens) if reg_lens else np.empty(0, dtype=np.int64)
        )
        new_starts = new_ends - new_lens + 1
        reg_q = occ_new[j:stop].astype(np.int64)

        # ---- validate BEFORE mutating -------------------------------- #
        if new_ends.size:
            if int(new_ends[-1]) >= geom.total_slots:
                raise NoSpaceError("run placement overflows the xnslots runway")
            disp = int((new_starts - reg_q).max())
            if disp > DISTANCE_FROM_HOME_SLOT_CUTOFF:
                raise NoSpaceError(
                    "home-slot displacement exceeds cutoff (src/gqf.c:45)"
                )
            if disp > self.max_displacement >= 0:
                self.max_displacement = disp

        # ---- move the affected slots --------------------------------- #
        # old spans of the surviving region runs (old indices of new
        # region runs j..stop, minus the edited run) + the edited run's
        # own old span define the window to clear.
        o_reg = np.arange(j, stop, dtype=np.int64)
        o_reg = o_reg + (1 if case == -1 else (-1 if case == 1 else 0))
        keep = (o_reg >= 0) & (o_reg < occ_old.size)
        if case != -1:
            keep[0] = False  # edited run re-encoded, not moved
            surv = o_reg[1:][keep[1:]] if o_reg.size else o_reg
        else:
            surv = o_reg[keep]
        if surv.size:
            sp = np.where(surv > 0, re_old[np.maximum(surv - 1, 0)] + 1, 0)
            old_starts_s = np.maximum(occ_old[surv], sp)
            old_lens_s = re_old[surv] - old_starts_s + 1
            intra = np.arange(int(old_lens_s.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(old_lens_s) - old_lens_s, old_lens_s
            )
            vals = self.slots[np.repeat(old_starts_s, old_lens_s) + intra]
        else:
            old_starts_s = np.empty(0, dtype=np.int64)
            old_lens_s = np.empty(0, dtype=np.int64)
            intra = np.empty(0, dtype=np.int64)
            vals = np.empty(0, dtype=self.slots.dtype)

        # zero window: spans actually occupied by region runs (old or
        # new).  NOT seeded with q — a pushed-right insert's home slot
        # can sit inside the PREVIOUS run's span, which must survive.
        w_lo = geom.total_slots
        w_hi = -1
        if exists:
            w_lo = min(w_lo, rs)
            w_hi = max(w_hi, re)
        if surv.size:
            w_lo = min(w_lo, int(old_starts_s[0]))
            w_hi = max(w_hi, int(re_old[surv[-1]]))
        if new_ends.size:
            w_lo = min(w_lo, int(new_starts[0]))
            w_hi = max(w_hi, int(new_ends[-1]))
        if w_hi >= w_lo:
            self.slots[w_lo : w_hi + 1] = 0
        if surv.size:
            sidx = 1 if case != -1 else 0
            new_surv_starts = new_starts[sidx:][keep[sidx:]] if case != -1 else new_starts[keep]
            self.slots[np.repeat(new_surv_starts, old_lens_s) + intra] = vals
        if case != -1 and new_len:
            es = int(new_starts[0])
            self.slots[es : es + new_len] = flat.astype(self.slots.dtype)

        # ---- commit index arrays, offsets, stats --------------------- #
        if case == 0:
            self.runend_pos[j:stop] = new_ends
        else:
            re_new[j:stop] = new_ends
            self.occ_pos = occ_new
            self.runend_pos = re_new

        # offsets: recompute boundaries whose governing run is in the
        # touched window (offset[b] = clamp(run_end(64b-1)-(64b-1),0,255))
        if w_hi >= 0:
            b_lo = max((min(q, w_lo) + 64) // 64, 1)
            b_hi = min((w_hi + 1) // 64, geom.nblocks - 1)
            if b_hi >= b_lo:
                pos = np.arange(b_lo, b_hi + 1, dtype=np.int64) * 64 - 1
                jj = np.searchsorted(self.occ_pos, pos, side="right") - 1
                spill = np.zeros(pos.size, dtype=np.int64)
                vj = jj >= 0
                spill[vj] = np.maximum(
                    self.runend_pos[jj[vj]] - pos[vj], 0
                )
                self.offsets[b_lo : b_hi + 1] = np.minimum(spill, 255).astype(
                    np.uint8
                )

        self.nelts += new_cnt - old_cnt
        self.ndistinct += d_dist
        self.noccupied += d_len
        self._decoded = None
        return new_cnt - old_cnt

    def insert1(self, key: int, count: int = 1, value: int = 0) -> "Cqf":
        """In-place single-key insert — the reference's incremental
        ``insert1``/``insert`` cost model (src/gqf.c:1183-1553): one
        point update touches O(cluster) slots, not the whole filter.
        MUTATES this sketch (unlike the batch API, which returns new
        sketches) and returns self for chaining.  Raises NoSpaceError
        when the 95% rule would break, unless :meth:`set_auto_resize`
        is on — then the filter doubles and retries, qf_insert's retry
        loop (src/gqf.c:1902-1914)."""
        h = int(
            _packed_hashes(
                np.array([key], dtype=np.uint64),
                np.array([value], dtype=np.uint64),
                self.config,
            )[0]
        )
        self._splice_autoresize(h, int(count))
        return self

    def _splice_autoresize(
        self, h: int, delta: int | None, set_to: int | None = None
    ) -> int:
        """_splice, growing the filter on NoSpaceError when the
        qf_set_auto_resize flag is on (qf_insert, src/gqf.c:1902-1914).
        ``set_to`` passes through to _splice — qf_set_count routes through
        qf_insert in the reference (src/gqf.c:1962-1980), so it honors the
        same retry loop."""
        while True:
            try:
                return self._splice(h, delta, set_to=set_to)
            except NoSpaceError:
                nq = self.geom.qbits + 1
                if not getattr(self, "auto_resize", False) or (
                    nq >= self.config.key_bits - 2
                ):
                    raise
                self._adopt(self.resized(nq))

    def remove1(self, key: int, count: int = 1, value: int = 0) -> "Cqf":
        """In-place single-key remove, clamped at zero (_remove,
        src/gqf.c:1982-1998).  MUTATES this sketch; returns self."""
        h = int(
            _packed_hashes(
                np.array([key], dtype=np.uint64),
                np.array([value], dtype=np.uint64),
                self.config,
            )[0]
        )
        self._splice(h, -int(count))
        return self

    def insert(
        self,
        keys: np.ndarray,
        counts: np.ndarray | None = None,
        values: np.ndarray | None = None,
    ) -> "Cqf":
        """Batch qf_insert (src/gqf.c:1899-1960); returns a new sketch."""
        h = _packed_hashes(
            np.ascontiguousarray(keys, dtype=np.uint64), values, self.config
        )
        c = (
            np.ones(h.size, dtype=np.int64)
            if counts is None
            else np.ascontiguousarray(counts, dtype=np.int64)
        )
        return self._apply_delta(h, c)

    def remove(
        self,
        keys: np.ndarray,
        counts: np.ndarray | None = None,
        values: np.ndarray | None = None,
    ) -> "Cqf":
        """Batch qf_remove (src/gqf.c:1982-1998); clamps at zero."""
        h = _packed_hashes(
            np.ascontiguousarray(keys, dtype=np.uint64), values, self.config
        )
        c = (
            np.ones(h.size, dtype=np.int64)
            if counts is None
            else np.ascontiguousarray(counts, dtype=np.int64)
        )
        return self._apply_delta(h, -c)

    def set_count(self, key: int, count: int, value: int = 0) -> "Cqf":
        """qf_set_count (src/gqf.c:1962-1980): splice on a physical copy —
        O(copy + cluster), not the O(N log N) rebuild it used to be.
        Routes through the auto-resize retry (the reference implements
        set_count via qf_insert, which honors qf_set_auto_resize), so
        with the flag on this grows instead of raising NoSpaceError."""
        h = _packed_hashes(
            np.array([key], dtype=np.uint64),
            np.array([value], dtype=np.uint64),
            self.config,
        )
        new = self.copy()
        new._splice_autoresize(int(h[0]), None, set_to=int(count))
        return new

    def delete_key_value(self, key: int, value: int = 0) -> "Cqf":
        """qf_delete_key_value (src/gqf.c:2000-2016)."""
        return self.set_count(key, 0, value)

    def resized(self, new_qbits: int) -> "Cqf":
        """qf_resize (src/gqf.c:1819-1889): decode-all + rebuild at 2x (or
        any) slot count; hash space unchanged so content is preserved."""
        d = self._decode()
        return Cqf(self.config, new_qbits, _hashes=d.hashes, _counts=d.counts)

    def set_auto_resize(self, enable: bool = True) -> "Cqf":
        """qf_set_auto_resize (src/gqf.c:1703-1705): when enabled, the
        in-place point mutators (:meth:`insert1` and friends) respond to a
        full filter by doubling the slot count and retrying — qf_insert's
        retry loop (src/gqf.c:1902-1914) — instead of raising
        NoSpaceError.  Off by default, as after qf_init."""
        self.auto_resize = bool(enable)
        return self

    def _adopt(self, other: "Cqf") -> None:
        """Replace this sketch's physical layout with ``other``'s (same
        config) — the in-place half of qf_resize: the struct survives,
        the buffers are swapped."""
        self.geom = other.geom
        self.slots = other.slots
        self.occ_pos = other.occ_pos
        self.runend_pos = other.runend_pos
        self.offsets = other.offsets
        self.nelts = other.nelts
        self.ndistinct = other.ndistinct
        self.noccupied = other.noccupied
        self.max_displacement = other.max_displacement
        self._decoded = None

    def reset(self) -> "Cqf":
        """qf_reset (src/gqf.c:1801-1817)."""
        return Cqf(self.config, self.geom.qbits)

    def copy(self) -> "Cqf":
        """qf_copy (src/gqf.c:1790-1799): physical memcpy of the layout —
        O(slots) flat copies, no decode/re-encode.  Isolation is total
        (every array is reallocated)."""
        new = Cqf.__new__(Cqf)
        new.config = self.config
        new.geom = self.geom
        new.slots = self.slots.copy()
        new.occ_pos = self.occ_pos.copy()
        new.runend_pos = self.runend_pos.copy()
        new.offsets = self.offsets.copy()
        new.nelts = self.nelts
        new.ndistinct = self.ndistinct
        new.noccupied = self.noccupied
        new.max_displacement = self.max_displacement
        new.auto_resize = getattr(self, "auto_resize", False)
        new._decoded = None
        return new

    # ------------------------------------------------------------------ #
    # merge / set algebra (src/gqf.c:2432-2619)
    # ------------------------------------------------------------------ #

    @staticmethod
    def _check_mergeable(sketches: list["Cqf"]) -> CqfConfig:
        cfg = sketches[0].config
        for s in sketches[1:]:
            if s.config != cfg:
                # the reference's check (src/gqf.c:2438-2444) chains the
                # mismatch conditions with && where || is intended, letting a
                # single mismatched seed/mode through; we require full-config
                # equality (deliberate fix, documented in SURVEY.md §7).
                raise ValueError("cannot merge sketches with different configs")
        return cfg

    @classmethod
    def merge_many(
        cls,
        sketches: list["Cqf"],
        qbits: int | None = None,
        auto_resize: bool = True,
    ) -> "Cqf":
        """qf_multi_merge (src/gqf.c:2479-2544): k-way multiset union, counts
        of equal hashes add.  Associative + commutative, and with the
        canonical layout any merge order serializes to identical bytes."""
        cfg = cls._check_mergeable(sketches)
        # size from the UNION's distinct count (the reference likewise sizes
        # the merge output by total volume, src/bm.c:681-691), with the
        # inputs' max qbits as a floor so capacity never shrinks across a
        # merge.  Seeding with the floor alone made every large merge crawl
        # through the auto-resize retry loop.  The concatenations are passed
        # without a name here so from_hashes can free them once aggregated.
        return cls.from_hashes(
            cfg,
            np.concatenate([s._decode().hashes for s in sketches]),
            np.concatenate([s._decode().counts for s in sketches]),
            qbits=qbits,
            min_qbits=max(s.geom.qbits for s in sketches),
            auto_resize=auto_resize,
        )

    def merge(self, other: "Cqf", qbits: int | None = None) -> "Cqf":
        """qf_merge (src/gqf.c:2432-2474)."""
        return Cqf.merge_many([self, other], qbits=qbits)

    def subtract(self, other: "Cqf") -> "Cqf":
        """Merge-with-subtraction: counts of ``other`` removed, clamped at
        zero (batch qf_remove, src/gqf.c:1982-1998).  This is the merge
        side of distributed deletes: delete streams build ordinary
        sketches that subtract instead of add."""
        self._check_mergeable([self, other])
        od = other._decode()
        return self._apply_delta(od.hashes, -od.counts.astype(np.int64))

    def intersect(
        self,
        other: "Cqf",
        qbits: int | None = None,
        counts_from: str | None = None,
    ) -> "Cqf":
        """qf_intersect (src/gqf.c:2583-2613): keep hashes present in both.

        The reference iterates the *larger* filter and keeps its counts
        (src/gqf.c:2596-2612); we match that tie-break on serialized size.
        ``counts_from`` ("self"/"other") overrides it — ShardedCqf
        resolves the tie-break GLOBALLY (total bytes across shards) so a
        shard where the local size order happens to flip cannot mix the
        two sketches' counts in one result.
        """
        Cqf._check_mergeable([self, other])
        if counts_from == "self":
            big = self
        elif counts_from == "other":
            big = other
        elif counts_from is None:
            big = (
                self
                if self.total_size_in_bytes > other.total_size_in_bytes
                else other
            )
        else:
            raise ValueError("counts_from must be 'self', 'other' or None")
        a, b = big._decode(), (other if big is self else self)._decode()
        common, ia, _ = np.intersect1d(
            a.hashes, b.hashes, assume_unique=True, return_indices=True
        )
        q = qbits if qbits is not None else self.geom.qbits
        return Cqf.from_hashes(self.config, common, a.counts[ia], qbits=q)

    def inner_product(self, other: "Cqf") -> int:
        """qf_inner_product (src/gqf.c:2547-2580): sum of count_a * count_b
        over shared hashes — the cosine numerator over count vectors."""
        Cqf._check_mergeable([self, other])
        a, b = self._decode(), other._decode()
        _, ia, ib = np.intersect1d(
            a.hashes, b.hashes, assume_unique=True, return_indices=True
        )
        return int(
            (a.counts[ia].astype(np.float64) * b.counts[ib].astype(np.float64)).sum()
        )

    def magnitude(self) -> int:
        """qf_magnitude (src/gqf.c:2616-2619): L2 norm of the count vector,
        truncated to an integer exactly as the reference's uint64 return."""
        return int(np.sqrt(self.inner_product(self)))

    def magnitude_f(self) -> float:
        """Full-precision L2 norm (library extension)."""
        d = self._decode()
        return float(np.sqrt((d.counts.astype(np.float64) ** 2).sum()))

    # ------------------------------------------------------------------ #
    # metadata accessors (src/gqf.c:2134-2186)
    # ------------------------------------------------------------------ #

    @property
    def nslots(self) -> int:
        return self.geom.nslots

    @property
    def sum_of_counts(self) -> int:
        """qf_get_sum_of_counts — total stream length N."""
        return self.nelts

    @property
    def num_distinct(self) -> int:
        """qf_get_num_distinct_key_value_pairs."""
        return self.ndistinct

    @property
    def num_occupied_slots(self) -> int:
        return self.noccupied

    @property
    def load_factor(self) -> float:
        return self.noccupied / self.geom.nslots

    @property
    def is_auto_resize_enabled(self) -> bool:
        """qf_is_auto_resize_enabled (src/gqf.c:2144)."""
        return getattr(self, "auto_resize", False)

    @property
    def total_size_in_bytes(self) -> int:
        """``len(self.to_bytes())``, from the geometry alone: header,
        offsets, occupieds and runends words, packed slots, CRC."""
        geom = self.geom
        return (
            _HEADER.size
            + 17 * geom.nblocks
            + (geom.total_slots * geom.bits_per_slot + 7) // 8
            + 4
        )

    # ------------------------------------------------------------------ #
    # serialization (src/gqf_file.c:264-349 analog; columnar layout)
    # ------------------------------------------------------------------ #

    def to_bytes(self) -> bytes:
        geom = self.geom
        header = _HEADER.pack(
            MAGIC,
            _WIRE_VERSION,
            int(self.config.hash_mode),
            self.config.key_bits,
            self.config.value_bits,
            self.config.seed,
            geom.qbits,
            self.nelts,
            self.ndistinct,
            self.noccupied,
        )
        occ_words = bitpack.bits_to_words(self.occ_pos, geom.nblocks)
        re_words = bitpack.bits_to_words(self.runend_pos, geom.nblocks)
        body = (
            self.offsets.tobytes()
            + occ_words.tobytes()
            + re_words.tobytes()
            + bitpack.pack_slots(self.slots, geom.bits_per_slot)
        )
        return header + body + struct.pack("<I", zlib.crc32(header + body))

    @classmethod
    def from_bytes(cls, data: bytes) -> "Cqf":
        """qf_deserialize (src/gqf_file.c:280-349): validates magic/version
        and checksum before adopting the buffer."""
        (magic, ver, mode, kb, vb, seed, qbits, nelts, ndistinct, noccupied) = (
            _HEADER.unpack_from(data, 0)
        )
        if magic != MAGIC:
            raise ValueError("bad magic — not a cqf_spark sketch")
        if ver != _WIRE_VERSION:
            raise ValueError(f"unsupported wire version {ver}")
        (crc,) = struct.unpack_from("<I", data, len(data) - 4)
        if zlib.crc32(data[:-4]) != crc:
            raise ValueError("sketch checksum mismatch")
        config = CqfConfig(
            key_bits=kb, value_bits=vb, hash_mode=HashMode(mode), seed=seed
        )
        geom = config.geometry(qbits)
        off = _HEADER.size
        self = cls.__new__(cls)
        self.config = config
        self.geom = geom
        self.offsets = np.frombuffer(
            data, dtype=np.uint8, count=geom.nblocks, offset=off
        ).copy()
        off += geom.nblocks
        occ_words = np.frombuffer(data, dtype=np.uint64, count=geom.nblocks, offset=off)
        off += geom.nblocks * 8
        re_words = np.frombuffer(data, dtype=np.uint64, count=geom.nblocks, offset=off)
        off += geom.nblocks * 8
        nbytes = (geom.total_slots * geom.bits_per_slot + 7) // 8
        self.slots = bitpack.unpack_slots(
            data[off : off + nbytes], geom.total_slots, geom.bits_per_slot
        )
        self.occ_pos = bitpack.words_to_bits(occ_words)
        self.runend_pos = bitpack.words_to_bits(re_words)
        self.nelts = nelts
        self.ndistinct = ndistinct
        self.noccupied = noccupied
        self.max_displacement = -1  # unknown after deserialize
        self._decoded = None
        return self

    # ------------------------------------------------------------------ #
    # reference on-disk image interop (qf_serialize/qf_deserialize,
    # src/gqf_file.c:264-349; layout from include/gqf_int.h:38-109 with
    # QF_BITS_PER_SLOT=0, QF_SLOTS_PER_BLOCK=64)
    # ------------------------------------------------------------------ #
    #
    # image = qfmetadata (128 bytes, natural C alignment, little-endian)
    #       + nblocks x [offset u8 | occupieds u64 | runends u64 |
    #                    slots u8[8*bits_per_slot]]
    #
    # The C library's physical layout is canonical for a given multiset
    # (runs in quotient order at max(home, prev_end+1), remainders
    # ascending within a run — the invariant insert maintains,
    # src/gqf.c:1244-1264), which is exactly what _rebuild produces, so a
    # sketch re-emitted from decoded content is byte-identical to the C
    # image as long as unused slots are zero (qf_init with a zeroed
    # buffer; qf_malloc may leave heap garbage there, which from_
    # reference_bytes tolerates but re-emission then canonicalizes).

    _REF_MAGIC = 1018874902021329732  # include/gqf_int.h:23
    _REF_META = struct.Struct("<QiIQI4x6Q2Q4Q")  # 128 bytes

    def to_reference_bytes(self) -> bytes:
        """Emit the C library's ``qf_serialize`` image of this sketch."""
        geom = self.geom
        bps = geom.bits_per_slot
        block_bytes = 17 + 8 * bps  # sizeof(qfblock) + 64*bps/8
        size = geom.nblocks * block_bytes
        rng = geom.nslots << bps  # range = nslots << key_remainder_bits
        meta = self._REF_META.pack(
            self._REF_MAGIC,
            int(self.config.hash_mode),
            0,  # reserved
            size,
            self.config.seed,
            geom.nslots,
            geom.xnslots,
            self.config.key_bits,
            self.config.value_bits,
            geom.key_remainder_bits,
            bps,
            rng & ((1 << 64) - 1),
            rng >> 64,
            geom.nblocks,
            self.nelts,
            self.ndistinct,
            self.noccupied,
        )
        blocks = np.zeros((geom.nblocks, block_bytes), dtype=np.uint8)
        blocks[:, 0] = self.offsets
        blocks[:, 1:9] = (
            bitpack.bits_to_words(self.occ_pos, geom.nblocks)
            .view(np.uint8)
            .reshape(geom.nblocks, 8)
        )
        blocks[:, 9:17] = (
            bitpack.bits_to_words(self.runend_pos, geom.nblocks)
            .view(np.uint8)
            .reshape(geom.nblocks, 8)
        )
        packed = bitpack.pack_slots(self.slots, bps)
        blocks[:, 17:] = np.frombuffer(packed, dtype=np.uint8).reshape(
            geom.nblocks, 8 * bps
        )
        return meta + blocks.tobytes()

    @classmethod
    def from_reference_bytes(cls, data: bytes) -> "Cqf":
        """Adopt a C-library serialized image (``qf_deserialize`` analog —
        a user's existing ``.cqf`` files load directly)."""
        if len(data) < cls._REF_META.size:
            raise ValueError("truncated reference image")
        (
            magic,
            mode,
            _reserved,
            size,
            seed,
            nslots,
            xnslots,
            key_bits,
            value_bits,
            krb,
            bps,
            _rng_lo,
            _rng_hi,
            nblocks,
            nelts,
            ndistinct,
            noccupied,
        ) = cls._REF_META.unpack_from(data, 0)
        if magic != cls._REF_MAGIC:
            raise ValueError(
                "bad magic — not a reference CQF image (written on a "
                "different-endian machine, or not a CQF at all)"
            )
        if nslots <= 0 or (nslots & (nslots - 1)) != 0:
            raise ValueError(f"nslots {nslots} is not a power of two")
        qbits = nslots.bit_length() - 1
        config = CqfConfig(
            key_bits=int(key_bits),
            value_bits=int(value_bits),
            hash_mode=HashMode(mode),
            seed=int(seed),
        )
        geom = config.geometry(qbits)
        if (geom.xnslots, geom.nblocks, geom.key_remainder_bits,
                geom.bits_per_slot) != (xnslots, nblocks, krb, bps):
            raise ValueError(
                "reference image geometry disagrees with derivation "
                f"(got xnslots={xnslots} nblocks={nblocks} r={krb} bps={bps})"
            )
        block_bytes = 17 + 8 * bps
        if len(data) != cls._REF_META.size + nblocks * block_bytes or (
            size != nblocks * block_bytes
        ):
            raise ValueError("reference image size mismatch")
        blocks = np.frombuffer(
            data, dtype=np.uint8, offset=cls._REF_META.size
        ).reshape(nblocks, block_bytes)
        self = cls.__new__(cls)
        self.config = config
        self.geom = geom
        self.offsets = blocks[:, 0].copy()
        self.occ_pos = bitpack.words_to_bits(
            np.ascontiguousarray(blocks[:, 1:9]).view(np.uint64).ravel()
        )
        self.runend_pos = bitpack.words_to_bits(
            np.ascontiguousarray(blocks[:, 9:17]).view(np.uint64).ravel()
        )
        self.slots = bitpack.unpack_slots(
            np.ascontiguousarray(blocks[:, 17:]).tobytes(),
            geom.total_slots,
            bps,
        )
        if self.occ_pos.size != self.runend_pos.size:
            raise ValueError("corrupt image: occupieds/runends rank mismatch")
        self.nelts = int(nelts)
        self.ndistinct = int(ndistinct)
        self.noccupied = int(noccupied)
        self.max_displacement = -1  # unknown until decoded
        self._decoded = None
        return self

    def to_reference_file(self, path: str) -> int:
        """qf_serialize to a ``.cqf`` file the C library can qf_deserialize;
        returns bytes written (src/gqf_file.c:264-278 contract)."""
        data = self.to_reference_bytes()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)

    @classmethod
    def from_reference_file(cls, path: str) -> "Cqf":
        """qf_deserialize/qf_usefile analog: load a C-library ``.cqf``."""
        with open(path, "rb") as f:
            return cls.from_reference_bytes(f.read())

    @classmethod
    def resize_file(cls, path: str, new_qbits: int) -> "Cqf":
        """qf_resize_file analog (src/gqf_file.c:170-228): rewrite a
        persisted sketch at a new slot count and atomically replace the
        original file.

        The reference creates ``path_nslots``, re-inserts every item, and
        renames it over the old file; here the same protocol is a load →
        in-memory canonical rebuild at ``new_qbits`` → write-to-temp →
        ``os.replace`` (atomic on POSIX), so a crash mid-resize leaves the
        original file intact.  Both on-disk formats are supported and
        preserved: our columnar wire format and the C library's mmap
        image (detected by magic).
        """
        import os

        with open(path, "rb") as f:
            head = f.read(8)
            data = head + f.read()
        (magic,) = struct.unpack_from("<Q", head, 0)
        is_ref = magic == cls._REF_MAGIC
        sk = (cls.from_reference_bytes if is_ref else cls.from_bytes)(data)
        resized = sk.resized(new_qbits)
        out = resized.to_reference_bytes() if is_ref else resized.to_bytes()
        tmp = f"{path}_resize_{1 << new_qbits}"  # the reference's path_nslots
        with open(tmp, "wb") as f:
            f.write(out)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        return resized

    def canonicalized(self) -> "Cqf":
        """Re-lay out from decoded content (zeroes any garbage the C
        library's unzeroed malloc left in unused slots, making
        ``to_reference_bytes`` deterministic for any ingested image)."""
        d = self._decode()
        return Cqf(self.config, self.geom.qbits, _hashes=d.hashes, _counts=d.counts)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Cqf):
            return NotImplemented
        return self.to_bytes() == other.to_bytes()

    def __repr__(self) -> str:
        return (
            f"Cqf(qbits={self.geom.qbits}, r={self.geom.key_remainder_bits}, "
            f"nelts={self.nelts}, ndistinct={self.ndistinct}, "
            f"load={self.load_factor:.3f})"
        )
