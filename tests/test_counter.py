"""Counter codec: exhaustive inverse-property tests (the correctness
linchpin per SURVEY.md §7) mirroring src/gqf.c:1028-1167 semantics."""

import numpy as np
import pytest

from cqf_spark.functions.counter import (
    _decode_cursor,
    decode_counter,
    decode_runs,
    encode_counter,
    encode_counters,
)


@pytest.mark.parametrize("bps", [2, 3, 4, 8, 13])
def test_scalar_roundtrip_exhaustive_small(bps):
    full = 1 << bps
    rems = range(full) if full <= 32 else list(range(8)) + [full - 2, full - 1]
    for rem in rems:
        for cnt in list(range(1, 70)) + [255, 256, 1000, 65537]:
            enc = encode_counter(rem, cnt, bps)
            r, c, last = decode_counter(
                np.array(enc, dtype=np.uint64), 0, len(enc) - 1, bps
            )
            assert (r, c, last) == (rem, cnt, len(enc) - 1), (bps, rem, cnt, enc)


def test_spec_examples():
    # the spec comment at src/gqf.c:1028-1036
    assert encode_counter(5, 1, 4) == [5]
    assert encode_counter(5, 2, 4) == [5, 5]
    assert encode_counter(0, 3, 4) == [0, 0, 0]
    assert encode_counter(5, 3, 4) == [5, 0, 5]
    e = encode_counter(5, 100, 8)
    assert e[0] == 5 and e[-1] == 5
    assert all(d != 5 for d in e[1:-1])
    e0 = encode_counter(0, 100, 8)
    assert e0[0] == 0 and e0[-2:] == [0, 0]
    assert all(d != 0 for d in e0[1:-2])


def test_vectorized_encode_matches_scalar():
    rng = np.random.default_rng(11)
    for bps in (2, 3, 5, 8, 16):
        full = 1 << bps
        rems = rng.integers(0, full, 3000).astype(np.uint64)
        cnts = rng.integers(1, 100000, 3000).astype(np.uint64)
        flat, lens = encode_counters(rems, cnts, bps)
        off = 0
        for i in range(rems.size):
            assert flat[off : off + lens[i]].tolist() == encode_counter(
                int(rems[i]), int(cnts[i]), bps
            )
            off += lens[i]


def test_decode_runs_roundtrip():
    rng = np.random.default_rng(13)
    for bps in (3, 8):
        full = 1 << bps
        starts, ends, chunks, truth = [], [], [], []
        pos = 0
        for run in range(500):
            k = int(rng.integers(1, min(7, full) + 1))
            rems = np.sort(rng.choice(full, size=k, replace=False)).astype(np.uint64)
            cnts = rng.integers(1, 2000, k).astype(np.uint64)
            flat, _ = encode_counters(rems, cnts, bps)
            starts.append(pos)
            pos += flat.size
            ends.append(pos - 1)
            chunks.append(flat)
            truth.extend(
                (run, int(r), int(c)) for r, c in zip(rems.tolist(), cnts.tolist())
            )
        slots = np.concatenate(chunks)
        ri, rr, rc, rp = decode_runs(
            slots, np.array(starts), np.array(ends), bps
        )
        assert list(zip(ri.tolist(), rr.tolist(), rc.tolist())) == truth
        # counter start positions are strictly increasing in slot order
        assert (np.diff(rp) > 0).all()


def test_decode_runs_empty():
    ri, rr, rc, rp = decode_runs(
        np.empty(0, dtype=np.uint64),
        np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64),
        8,
    )
    assert ri.size == rr.size == rc.size == rp.size == 0


# ---------------------------------------------------------------------------
# the batch kernels against their slow references
# ---------------------------------------------------------------------------

def _runs(chunks):
    """Lay slot sequences out back to back, one run each."""
    slots = np.concatenate(chunks).astype(np.uint64)
    ends = np.cumsum([c.size for c in chunks]) - 1
    starts = ends - np.array([c.size for c in chunks]) + 1
    return slots, starts.astype(np.int64), ends.astype(np.int64)


def _encoded_runs(rng, bps, nruns, max_count, rem_zero=False):
    full = 1 << bps
    chunks = []
    for _ in range(nruns):
        k = int(rng.integers(1, min(6, full) + 1))
        rems = np.sort(rng.choice(full, size=k, replace=False)).astype(np.uint64)
        if rem_zero:
            rems[0] = 0
        cnts = rng.integers(1, max_count + 1, k).astype(np.uint64)
        chunks.append(encode_counters(rems, cnts, bps)[0])
    return _runs(chunks)


def _sketch_runs(value_bits):
    from cqf_spark.config import CqfConfig
    from cqf_spark.core import Cqf

    rng = np.random.default_rng(3)
    keys = rng.integers(0, 1 << 40, 3000, dtype=np.uint64)
    sk = Cqf.from_keys(
        CqfConfig(key_bits=20, value_bits=value_bits, seed=5),
        keys,
        rng.integers(1, 5, keys.size).astype(np.uint64),
        values=rng.integers(0, 16, keys.size).astype(np.uint64),
    )
    starts = np.empty_like(sk.runend_pos)
    starts[0] = sk.occ_pos[0]
    starts[1:] = np.maximum(sk.occ_pos[1:], sk.runend_pos[:-1] + 1)
    return sk.slots, starts, sk.runend_pos, sk.geom.bits_per_slot


def _long_run(count):
    rems = np.arange(2000, dtype=np.uint64) * 3
    flat, _ = encode_counters(rems, np.full(rems.size, count, np.uint64), 17)
    return _runs([flat])


def _probe_shaped(rng):
    # count_navigate passes one run per probe: repeated, in probe order,
    # and overlapping when a probe's quotient sits inside an earlier run
    slots, starts, ends = _encoded_runs(rng, 8, 60, 5)
    pick = rng.integers(0, starts.size, 300)
    shift = np.minimum(rng.integers(0, 2, pick.size), ends[pick] - starts[pick])
    return slots, starts[pick] + shift, ends[pick]


_DECODE_CASES = {
    "ascending": lambda rng: (*_encoded_runs(rng, 8, 300, 1), 8),
    "multi_slot": lambda rng: (*_encoded_runs(rng, 5, 300, 4), 5),
    "rem_zero": lambda rng: (*_encoded_runs(rng, 5, 300, 4, rem_zero=True), 5),
    "count_50000": lambda rng: (*_encoded_runs(rng, 8, 100, 50_000), 8),
    "value_bits_0": lambda rng: _sketch_runs(0),
    "value_bits_4": lambda rng: _sketch_runs(4),
    "none_long_run_count_1": lambda rng: (*_long_run(1), 17),
    "none_long_run_count_5": lambda rng: (*_long_run(5), 17),
    "probe_shaped": lambda rng: (*_probe_shaped(rng), 8),
    "empty": lambda rng: (
        np.zeros(4, np.uint8), np.empty(0, np.int64), np.empty(0, np.int64), 8
    ),
}


@pytest.mark.parametrize("case", sorted(_DECODE_CASES))
def test_gather_decode_equals_cursor_decoder(case):
    """decode_runs (gather, cursor decoder only for runs with a
    non-ascent) returns exactly what the cursor decoder returns for every
    run, regrouped into run order."""
    slots, starts, ends, bps = _DECODE_CASES[case](np.random.default_rng(17))
    got = decode_runs(slots, starts, ends, bps)
    if starts.size == 0:
        assert all(a.size == 0 for a in got)
        return
    want = _decode_cursor(slots.astype(np.uint64), starts, ends, bps)
    order = np.lexsort((want[3], want[0]))
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        np.testing.assert_array_equal(g, w[order])
    if case.startswith("count_") or case == "multi_slot":
        assert (got[2] > 1).any()  # the cursor path really ran


@pytest.mark.parametrize("max_count", [1, 2, 4, 100_000])
def test_encode_counters_all_ones_mixed_all_multi(max_count):
    rng = np.random.default_rng(max_count)
    for bps in (2, 8, 13):
        rems = rng.integers(0, 1 << bps, 500).astype(np.uint64)
        lo = 2 if max_count == 4 else 1  # 4: every counter multi-slot
        cnts = rng.integers(lo, max_count + 1, rems.size).astype(np.uint64)
        flat, lens = encode_counters(rems, cnts, bps)
        want = [encode_counter(int(r), int(c), bps) for r, c in zip(rems, cnts)]
        assert lens.tolist() == [len(w) for w in want]
        assert flat.tolist() == [s for w in want for s in w]


def test_encode_counters_rejects_zero_count():
    with pytest.raises(ValueError):
        encode_counters(
            np.array([1, 2], np.uint64), np.array([1, 0], np.uint64), 8
        )


def _pack_reference(values, bps):
    out = bytearray((len(values) * bps + 7) // 8)
    for i, v in enumerate(values):
        for b in range(bps):
            if (v >> b) & 1:
                bit = i * bps + b
                out[bit >> 3] |= 1 << (bit & 7)
    return bytes(out)


@pytest.mark.parametrize("bps", range(1, 65))
def test_pack_unpack_match_bitwise_reference(bps):
    from cqf_spark.functions.bitpack import pack_slots, slot_dtype, unpack_slots

    rng = np.random.default_rng(bps)
    top = (1 << bps) - 1
    for n in (1, 63, 64, 65, 150):
        vals = rng.integers(0, top, n, dtype=np.uint64, endpoint=True)
        vals[::5] = top
        want = _pack_reference(vals.tolist(), bps)
        assert pack_slots(vals, bps) == want
        assert pack_slots(vals.astype(slot_dtype(bps)), bps) == want
        back = unpack_slots(want, n, bps)
        assert back.dtype == slot_dtype(bps)
        assert back.tolist() == vals.tolist()


def test_bits_to_words_matches_scalar_loop():
    from cqf_spark.functions.bitpack import bits_to_words

    rng = np.random.default_rng(2)
    for nwords in (1, 2, 37):
        for npos in (0, 1, nwords * 20):
            pos = np.unique(rng.integers(0, nwords * 64, npos))
            want = [0] * nwords
            for p in pos.tolist():
                want[p >> 6] |= 1 << (p & 63)
            got = bits_to_words(pos, nwords)
            assert got.dtype == np.uint64
            assert got.tolist() == want


def test_decode_runs_rejects_run_ending_before_start():
    with pytest.raises(ValueError, match="corrupt"):
        decode_runs(
            np.arange(8, dtype=np.uint8), np.array([5]), np.array([3]), 8
        )
