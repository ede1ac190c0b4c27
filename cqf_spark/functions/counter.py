"""Variable-length embedded counter codec.

The CQF stores a duplicate count *inside* the remainder slots of a run
(spec comment, reference src/gqf.c:1028-1036):

    count 1:            x
    count 2:            x x
    count 3, rem 0:     0 0 0
    count 3, rem x>0:   x 0 x
    count >3, rem x>0:  x [0] c..c x   (digits base 2^bps-2, != 0, != x;
                                        leading 0 iff the most-significant
                                        digit would be >= x)
    count >3, rem 0:    0 c..c 0 0     (digits base 2^bps-1, != 0)

The escape works because distinct remainders within a run are sorted
ascending, so a slot *smaller* than the current remainder must be a counter
digit.  ``encode_counter`` mirrors src/gqf.c:1037-1093 and
``decode_counter`` src/gqf.c:1097-1167 exactly; the vectorized variants
process whole batches with no per-row Python.

Almost every counter at <=95% load is a count-1 counter, i.e. one slot
holding its remainder, and a run whose slots strictly ascend holds only
those: every multi-slot counter repeats its remainder or drops below it.
So the batch codec pays per-counter work only where a counter needs more
than one slot:

* ``Cqf._rebuild`` (core.py) writes every counter's remainder at its
  start slot itself and calls ``encode_counters`` on the ``counts > 1``
  subset only, scattering the returned slot sequences at those counters'
  starts.  ``encode_counters`` on a mixed batch (the one run
  ``Cqf._splice`` re-encodes) does the same within its flat output: each
  remainder at its start, the digit encoder (``_encode_multi``) on the
  multi-slot subset.
* ``decode_runs`` gathers every run's slots in one pass and reads each
  slot as a count-1 counter.  Only runs holding a non-ascent go through
  the cursor decoder (``_decode_cursor``), on a compact copy of their
  slots; its counts replace those runs' slots.  Output is in run order.
  The cursor decoder keeps its scalar path for few, long runs: a NONE-mode
  run of multi-slot counters (e.g. 20,000 count-5 counters) is not
  ascending, and walks ~10x faster through ``decode_counter`` than through
  the one-counter-per-iteration vectorized loop.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64


# ---------------------------------------------------------------------------
# Scalar reference implementations (used by tests and as documentation).
# ---------------------------------------------------------------------------

def encode_counter(remainder: int, count: int, bits_per_slot: int) -> list[int]:
    """Slot sequence (left-to-right) encoding (remainder, count).

    Mirrors src/gqf.c:1037-1093, which emits right-to-left via ``*--p``.
    """
    base = (1 << bits_per_slot) - 1
    if count == 0:
        return []
    out = [remainder]  # rightmost slot
    if count == 1:
        return out
    if count == 2:
        return [remainder, remainder]
    if count == 3 and remainder == 0:
        return [0, 0, 0]
    if count == 3 and remainder > 0:
        return [remainder, 0, remainder]

    if remainder == 0:
        out.append(0)
        counter = count - 4
    else:
        base -= 1
        counter = count - 3

    digit = remainder
    while True:
        digit = counter % base
        digit += 1  # zero not allowed
        if remainder and digit >= remainder:
            digit += 1  # cannot collide with the remainder sentinel
        out.append(digit)
        counter //= base
        if counter == 0:
            break

    if remainder and digit >= remainder:
        out.append(0)

    out.append(remainder)
    return out[::-1]


def decode_counter(
    slots: np.ndarray | list[int],
    index: int,
    runend_index: int,
    bits_per_slot: int,
) -> tuple[int, int, int]:
    """Decode the counter starting at ``index``; return (remainder, count,
    last_slot_index).  Mirrors src/gqf.c:1097-1167, with ``is_runend(i)``
    realized as ``i == runend_index`` (the run's final slot).
    """
    rem = int(slots[index])
    if index == runend_index:
        return rem, 1, index
    digit = int(slots[index + 1])
    if index + 1 == runend_index:
        if digit == rem:
            return rem, 2, index + 1
        return rem, 1, index
    if rem > 0 and digit >= rem:
        if digit == rem:
            return rem, 2, index + 1
        return rem, 1, index
    if rem > 0 and digit == 0 and int(slots[index + 2]) == rem:
        return rem, 3, index + 2
    if rem == 0 and digit == 0:
        if int(slots[index + 2]) == 0:
            return rem, 3, index + 2
        return rem, 2, index + 1

    cnt = 0
    base = (1 << bits_per_slot) - (2 if rem else 1)
    end = index + 1
    while digit != rem and end != runend_index:
        if digit > rem:
            digit -= 1
        if digit and rem:
            digit -= 1
        cnt = cnt * base + digit
        end += 1
        digit = int(slots[end])

    if rem:
        return rem, cnt + 3, end
    if end == runend_index or int(slots[end + 1]) != 0:
        return rem, 1, index
    return rem, cnt + 4, end + 1


# ---------------------------------------------------------------------------
# Vectorized encoder
# ---------------------------------------------------------------------------

def encode_counters(
    remainders: np.ndarray, counts: np.ndarray, bits_per_slot: int
) -> tuple[np.ndarray, np.ndarray]:
    """Encode many (remainder, count) pairs at once.

    Returns ``(flat_slots, lengths)`` where ``flat_slots`` is the
    concatenation of each pair's slot sequence and ``lengths[i]`` its length.
    A count-1 counter is its own remainder, so every remainder is written at
    its start and only the ``counts > 1`` subset goes through the digit
    encoder, whose slot sequences are then scattered into place.  A batch
    of only multi-slot counters (what ``Cqf._rebuild`` passes) goes
    straight to the digit encoder.
    """
    rems = np.ascontiguousarray(remainders, dtype=np.uint64)
    cnts = np.ascontiguousarray(counts, dtype=np.uint64)
    n = rems.size
    lengths = np.ones(n, dtype=np.int64)
    if n == 0:
        return np.empty(0, dtype=np.uint64), lengths
    if (cnts == 0).any():
        raise ValueError("counts must be >= 1")
    multi = np.flatnonzero(cnts > 1)
    if multi.size == 0:
        return rems.copy(), lengths
    if multi.size == n:
        return _encode_multi(rems, cnts, bits_per_slot)

    sub_flat, sub_len = _encode_multi(rems[multi], cnts[multi], bits_per_slot)
    lengths[multi] = sub_len
    starts = np.cumsum(lengths)
    flat = np.empty(int(starts[-1]), dtype=np.uint64)
    starts -= lengths
    flat[starts] = rems
    sub_starts = np.cumsum(sub_len) - sub_len
    dst = np.repeat(starts[multi] - sub_starts, sub_len)
    dst += np.arange(sub_flat.size, dtype=np.int64)
    flat[dst] = sub_flat
    return flat, lengths


def _encode_multi(
    rems: np.ndarray, cnts: np.ndarray, bits_per_slot: int
) -> tuple[np.ndarray, np.ndarray]:
    """Digit encoder for counts >= 2, as ``encode_counters`` returns it.
    Pure array ops; the only loop is over digit positions (O(log count))."""
    n = rems.size
    full = _U64((1 << bits_per_slot) - 1)
    big = cnts > 3  # needs the positional digit encoding
    rpos = rems > 0

    # --- digits for the big counters -------------------------------------
    base = np.where(rpos, full - _U64(1), full)  # 2^bps-2 vs 2^bps-1
    c = np.where(rpos, cnts - _U64(3), cnts - _U64(4))
    ndig = np.zeros(n, dtype=np.int64)
    msd = np.zeros(n, dtype=np.uint64)  # most-significant (last-emitted) digit
    digit_cols: list[np.ndarray] = []   # digit_cols[j] = j-th least-significant
    active = big.copy()
    while active.any():
        d = (c % base) + _U64(1)
        d = d + ((rpos & (d >= rems)).astype(np.uint64))
        digit_cols.append(np.where(active, d, _U64(0)))
        msd = np.where(active, d, msd)
        ndig += active
        c = c // base
        active &= c > 0

    need_sep = big & rpos & (msd >= rems)  # leading 0 escape (gqf.c:1087-1088)

    # --- lengths ----------------------------------------------------------
    lengths = np.full(n, 2, dtype=np.int64)
    lengths[cnts == 3] = 3
    lengths[big] = np.where(rpos, 2 + ndig + need_sep, 3 + ndig)[big]

    # --- assembly ---------------------------------------------------------
    ends = np.cumsum(lengths)
    starts = ends - lengths
    flat = np.zeros(int(ends[-1]), dtype=np.uint64)
    flat[starts] = rems          # leading slot is the remainder in all cases
    flat[ends - 1] = rems        # trailing slot likewise ('x x' for count 2)
    # count==3, rem>0 -> x 0 x : middle zero already zero-initialized.
    # big, rem==0 -> 0 c..c 0 0 : ends-2 already zero.
    # digits: j-th least-significant digit sits at ends-2-j (rem>0) or
    # ends-3-j (rem==0).
    if digit_cols:
        ofs = np.where(rpos, ends - 2, ends - 3)
        for j, col in enumerate(digit_cols):
            put = big & (ndig > j)
            if put.any():
                flat[ofs[put] - j] = col[put]
    return flat, lengths


# ---------------------------------------------------------------------------
# Vectorized run decoder
# ---------------------------------------------------------------------------

def decode_runs(
    slots: np.ndarray,
    run_starts: np.ndarray,
    run_ends: np.ndarray,
    bits_per_slot: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode every counter of every run.

    A run whose slots strictly ascend holds only count-1 counters (every
    multi-slot counter repeats its remainder or drops below it), so one
    gather of all runs' slots decodes those runs outright: remainder =
    slot, count 1.  Only runs with a non-ascent go through the cursor
    decoder (``_decode_cursor``), on a compact copy of just their slots.

    ``slots`` may be any unsigned dtype.  Runs may repeat or overlap (one
    per probe in ``Cqf.count_navigate``).  Returns ``(run_index, remainder,
    count, counter_start_slot)`` arrays in run order, counters in slot
    order within a run; for disjoint ascending runs (a CQF's own, as
    ``Cqf._decode`` and ``Cqf._splice`` pass them) that is slot order,
    i.e. ascending hash order — the iterator order of
    src/gqf.c:2191-2348.
    """
    slots = np.asarray(slots)
    run_starts = np.ascontiguousarray(run_starts, dtype=np.int64)
    run_ends = np.ascontiguousarray(run_ends, dtype=np.int64)
    nruns = run_starts.size
    if nruns == 0:
        e64 = np.empty(0, dtype=np.uint64)
        e = np.empty(0, dtype=np.int64)
        return e, e64, e64, e
    lens = run_ends - run_starts + 1
    if (lens < 1).any():
        raise ValueError("run ends before it starts — corrupt sketch?")

    # gather every run's slots: run r occupies [offs[r], offs[r] + lens[r])
    ends = np.cumsum(lens)
    offs = ends - lens
    pos = np.repeat(run_starts - offs, lens)
    pos += np.arange(int(ends[-1]), dtype=np.int64)
    v = slots[pos]

    # read every slot as a count-1 counter
    run_index = np.repeat(np.arange(nruns, dtype=np.int64), lens)
    count = np.ones(v.size, dtype=np.uint64)

    # runs holding a non-ascent need the cursor decoder; each gathered
    # slot knows its run, so overlapping runs are told apart too
    non_ascent = np.empty(v.size, dtype=bool)
    np.less_equal(v[1:], v[:-1], out=non_ascent[1:])
    non_ascent[offs] = False  # a run's first slot vs the previous run's last
    cursor_runs = np.unique(run_index[non_ascent])
    if cursor_runs.size == 0:
        return run_index, v.astype(np.uint64), count, pos

    # The cursor decoder sees a compact copy of just those runs.  A
    # counter's remainder is its first slot, so its result only sets the
    # count there and drops the counter's other slots; what is left is
    # still in gather order, i.e. run order, wherever the runs lie.
    sub_lens = lens[cursor_runs]
    sub_ends = np.cumsum(sub_lens)
    sub_offs = sub_ends - sub_lens
    elem = np.repeat(offs[cursor_runs] - sub_offs, sub_lens)
    elem += np.arange(int(sub_ends[-1]), dtype=np.int64)
    _, _, c_cnt, c_at = _decode_cursor(
        v[elem].astype(np.uint64), sub_offs, sub_ends - 1, bits_per_slot
    )
    first = elem[c_at]
    count[first] = c_cnt
    keep = np.ones(v.size, dtype=bool)
    keep[elem] = False
    keep[first] = True
    # one array at a time, so each full-size one is freed before the next
    run_index = run_index[keep]
    count = count[keep]
    pos = pos[keep]
    return run_index, v[keep].astype(np.uint64), count, pos


def _decode_cursor(
    slots: np.ndarray,
    run_starts: np.ndarray,
    run_ends: np.ndarray,
    bits_per_slot: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cursor decoder for the runs ``decode_runs`` cannot gather: those
    holding multi-slot counters.  ``slots`` is uint64; returns the same
    arrays as ``decode_runs``, in slot order, which is run order for the
    disjoint ascending runs ``decode_runs`` passes.

    One cursor per run advances through decode_counter steps; the outer loop
    runs max-counters-per-run times and the inner digit scan
    max-digits-per-counter times — both tiny at <=95% load — while each
    iteration is a whole-array numpy op (no per-row Python).
    """
    nruns = run_starts.size
    # FEW, LONG runs (NONE-mode identity hashing packs dense keys into a
    # handful of runs): the vectorized loop below decodes ONE counter per
    # alive run per iteration, so its whole-array numpy overhead is paid
    # per counter once few runs remain — measured ~30 us/counter, i.e.
    # ~1 s for a single 20k-counter run.  When the average run is long, a
    # scalar walk with the spec-mirror ``decode_counter`` (bit-exact by
    # definition) is ~10x faster.  Runs of count-1 counters never get
    # here (the gather in decode_runs takes them); runs of multi-slot
    # counters still do, e.g. 20,000 count-5 counters in one NONE-mode run.
    if slots.size > 64 * nruns:
        seg = slots.tolist()  # decode_counter reads only inside the run
        s_run: list[int] = []
        s_rem: list[int] = []
        s_cnt: list[int] = []
        s_pos: list[int] = []
        for ri in range(nruns):
            i, rend = int(run_starts[ri]), int(run_ends[ri])
            while i <= rend:
                rem, cnt, last = decode_counter(seg, i, rend, bits_per_slot)
                s_run.append(ri)
                s_rem.append(rem)
                s_cnt.append(cnt)
                s_pos.append(i)
                i = last + 1
        return (
            np.asarray(s_run, dtype=np.int64),
            np.asarray(s_rem, dtype=np.uint64),
            np.asarray(s_cnt, dtype=np.uint64),
            np.asarray(s_pos, dtype=np.int64),
        )

    out_run: list[np.ndarray] = []
    out_rem: list[np.ndarray] = []
    out_cnt: list[np.ndarray] = []
    out_pos: list[np.ndarray] = []

    cursor = run_starts.copy()
    alive = np.ones(nruns, dtype=bool)
    run_ids = np.arange(nruns, dtype=np.int64)
    full = 1 << bits_per_slot

    while alive.any():
        idx = np.flatnonzero(alive)
        cur = cursor[idx]
        rend = run_ends[idx]
        rem = slots[cur]
        cnt = np.empty(idx.size, dtype=np.uint64)
        last = np.empty(idx.size, dtype=np.int64)
        done = np.zeros(idx.size, dtype=bool)

        # case: counter is the run's final slot -> count 1
        m = cur == rend
        cnt[m], last[m] = 1, cur[m]
        done |= m

        nd = ~done
        digit = np.zeros(idx.size, dtype=np.uint64)
        digit[nd] = slots[np.minimum(cur[nd] + 1, slots.size - 1)]

        # case: next slot is the runend
        m = nd & (cur + 1 == rend)
        eq = m & (digit == rem)
        cnt[eq], last[eq] = 2, cur[eq] + 1
        ne = m & (digit != rem)
        cnt[ne], last[ne] = 1, cur[ne]
        done |= m

        # case: rem>0 and next digit >= rem -> count 1 or 2
        nd = ~done
        m = nd & (rem > 0) & (digit >= rem)
        eq = m & (digit == rem)
        cnt[eq], last[eq] = 2, cur[eq] + 1
        ne = m & (digit > rem)
        cnt[ne], last[ne] = 1, cur[ne]
        done |= m

        nd = ~done
        slot2 = np.zeros(idx.size, dtype=np.uint64)
        if nd.any():
            slot2[nd] = slots[np.minimum(cur[nd] + 2, slots.size - 1)]

        # case: x 0 x -> count 3 (rem>0)
        m = nd & (rem > 0) & (digit == 0) & (slot2 == rem)
        cnt[m], last[m] = 3, cur[m] + 2
        done |= m

        # case: rem==0, digit==0 -> 000 (3) or 00 (2)
        nd = ~done
        m = nd & (rem == 0) & (digit == 0)
        z3 = m & (slot2 == 0)
        cnt[z3], last[z3] = 3, cur[z3] + 2
        z2 = m & (slot2 != 0)
        cnt[z2], last[z2] = 2, cur[z2] + 1
        done |= m

        # general positional scan (gqf.c:1140-1166)
        nd = ~done
        if nd.any():
            base = np.where(rem > 0, full - 2, full - 1).astype(np.uint64)
            acc = np.zeros(idx.size, dtype=np.uint64)
            end = cur + 1
            dg = digit.copy()
            scanning = nd.copy()
            while True:
                step = scanning & (dg != rem) & (end != rend)
                if not step.any():
                    break
                d = dg.astype(np.int64)
                d = d - (step & (dg > rem))
                d = d - (step & (d > 0) & (rem > 0))
                acc = np.where(step, acc * base + d.astype(np.uint64), acc)
                end = end + step
                dg = np.where(step, slots[np.minimum(end, slots.size - 1)], dg)
            # rem > 0: count = acc + 3, last = end
            m = nd & (rem > 0)
            if m.any():
                cnt[m] = acc[m] + _U64(3)
                last[m] = end[m]
            # rem == 0: trailing 0 confirms the counter, else count 1
            m0 = nd & (rem == 0)
            if m0.any():
                nxt = np.zeros(idx.size, dtype=np.uint64)
                ok = m0 & (end != rend)
                nxt[ok] = slots[np.minimum(end[ok] + 1, slots.size - 1)]
                confirmed = m0 & (end != rend) & (nxt == 0)
                if confirmed.any():
                    cnt[confirmed] = acc[confirmed] + _U64(4)
                    last[confirmed] = end[confirmed] + 1
                plain = m0 & ~confirmed
                cnt[plain], last[plain] = 1, cur[plain]

        out_run.append(run_ids[idx])
        out_rem.append(rem)
        out_cnt.append(cnt)
        out_pos.append(cur)

        cursor[idx] = last + 1
        alive[idx] = cursor[idx] <= run_ends[idx]

    run_index = np.concatenate(out_run)
    remainder = np.concatenate(out_rem)
    count = np.concatenate(out_cnt)
    pos = np.concatenate(out_pos)
    # emit in slot order (stable across the per-iteration batches)
    order = np.argsort(pos, kind="stable")
    return run_index[order], remainder[order], count[order], pos[order]
