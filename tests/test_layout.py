"""The bulk layout (``Cqf._rebuild``) against a scalar reference.

The reference walks the sorted ``(hash, count)`` multiset one counter at a
time, as incremental inserts leave it (src/gqf.c:1244-1264): each counter
is ``encode_counter``'s slot sequence, placed at ``max(quotient,
previous counter's end + 1)``.  ``_rebuild`` must produce the same slots,
run arrays, block offsets, displacement and seeded decode, and raise the
same ``NoSpaceError`` gate in the same order."""

import numpy as np
import pytest

from cqf_spark.config import CqfConfig, HashMode
from cqf_spark.core import (
    DISTANCE_FROM_HOME_SLOT_CUTOFF,
    LOAD_FACTOR,
    Cqf,
    NoSpaceError,
)
from cqf_spark.functions.counter import encode_counter

# the gate each NoSpaceError message names, in _rebuild's check order
_GATES = {
    "distinct entries": "load",
    "occupied slots": "load",
    "runway": "runway",
    "displacement": "displacement",
}


def _gate(err: NoSpaceError) -> str:
    return next(g for key, g in _GATES.items() if key in str(err))


def _reference_layout(hashes, counts, geom):
    """Scalar layout of the aggregated multiset, or the name of the gate
    it fails."""
    bps = geom.bits_per_slot
    limit = int(LOAD_FACTOR * geom.nslots)
    pairs = sorted(
        (h, c) for h, c in _aggregate(hashes, counts).items() if c > 0
    )
    if len(pairs) > limit:
        return "load"
    slots = [0] * geom.total_slots
    occ, runend, slot_index = [], [], []
    prev_end, disp, used = -1, 0, 0
    for h, c in pairs:
        q, r = h >> bps, h & ((1 << bps) - 1)
        start = max(q, prev_end + 1)
        if not occ or occ[-1] != q:
            occ.append(q)
            runend.append(None)
            disp = max(disp, start - q)
        enc = encode_counter(r, c, bps)
        slots[start:start + len(enc)] = enc
        slot_index.append(start)
        prev_end = start + len(enc) - 1
        runend[-1] = prev_end
        used += len(enc)
    if used > limit:
        return "load"
    if pairs and prev_end >= geom.total_slots:
        return "runway"
    if disp > DISTANCE_FROM_HOME_SLOT_CUTOFF:
        return "displacement"
    offsets = [0] * geom.nblocks
    for b in range(1, geom.nblocks):
        x = 64 * b - 1
        ends = [e for q, e in zip(occ, runend) if q <= x]
        offsets[b] = min(max(ends[-1] - x, 0), 255) if ends else 0
    return {
        "slots": slots,
        "occ_pos": occ,
        "runend_pos": runend,
        "offsets": offsets,
        "max_displacement": disp,
        "noccupied": used,
        "hashes": [h for h, _ in pairs],
        "counts": [c for _, c in pairs],
        "slot_index": slot_index,
    }


def _aggregate(hashes, counts):
    out: dict[int, int] = {}
    for h, c in zip(hashes.tolist(), counts.tolist()):
        out[h] = out.get(h, 0) + c
    return out


def _counts(rng, kind, n):
    if kind == "ones":
        return np.ones(n, dtype=np.uint64)
    if kind == "mixed":
        big = rng.random(n) < 0.05
        c = rng.integers(1, 4, n).astype(np.uint64)
        c[big] = rng.integers(4, 2**40, int(big.sum()), dtype=np.uint64)
        return c
    return rng.integers(2, 2**40, n, dtype=np.uint64)  # "multi"


def _case(i):
    """Seeded (config, qbits, hashes, counts) for case ``i``: a count mix
    crossed with a hash shape."""
    rng = np.random.default_rng(1000 + i)
    kind = ("ones", "mixed", "multi")[i % 3]
    shape = ("uniform", "values", "none_runs", "runway", "displacement")[
        (i // 3) % 5
    ]
    q = int(rng.integers(6, 10))
    vb = 0
    mode = HashMode.DEFAULT
    if shape == "values":
        vb = int(rng.choice([3, 8]))
    if shape in ("none_runs", "runway", "displacement"):
        mode = HashMode.NONE
    if shape == "displacement":
        q = 11
    r = int(rng.integers(3, 9))
    cfg = CqfConfig(key_bits=q + r, value_bits=vb, hash_mode=mode,
                    seed=int(rng.integers(1, 1000)))
    geom = cfg.geometry(q)
    bps = geom.bits_per_slot
    nslots = geom.nslots
    if shape in ("uniform", "values"):
        n = int(rng.integers(1, int(1.05 * nslots)))
        hashes = rng.integers(0, 1 << (q + bps), n, dtype=np.uint64)
    elif shape == "none_runs":
        # dense keys: a few quotients, each a long run of remainders
        n = int(rng.integers(1, int(0.9 * nslots)))
        hashes = rng.integers(0, 4 << bps, n, dtype=np.uint64)
    elif shape == "runway":
        # everything homes in the last few slots
        n = int(rng.integers(nslots // 4, int(0.95 * nslots)))
        lo = (nslots - 4) << bps
        hashes = rng.integers(lo, nslots << bps, n, dtype=np.uint64)
    else:
        # a cluster at the front pushes the next run past the cutoff
        n = int(rng.integers(1050, 1300))
        span = max(2, n // (1 << bps) + 2)
        hashes = np.concatenate([
            rng.integers(0, span << bps, n, dtype=np.uint64),
            np.array([(span + 1) << bps], dtype=np.uint64),
        ])
    return cfg, q, hashes, _counts(rng, kind, hashes.size)


@pytest.mark.parametrize("i", range(240))
def test_rebuild_matches_scalar_reference(i):
    cfg, q, hashes, counts = _case(i)
    geom = cfg.geometry(q)
    want = _reference_layout(hashes, counts, geom)
    if isinstance(want, str):
        with pytest.raises(NoSpaceError) as err:
            Cqf.from_hashes(cfg, hashes, counts, qbits=q, auto_resize=False)
        assert _gate(err.value) == want
        return
    sk = Cqf.from_hashes(cfg, hashes, counts, qbits=q, auto_resize=False)
    assert sk.slots.tolist() == want["slots"]
    assert sk.occ_pos.tolist() == want["occ_pos"]
    assert sk.runend_pos.tolist() == want["runend_pos"]
    assert sk.offsets.tolist() == want["offsets"]
    assert sk.max_displacement == want["max_displacement"]
    assert sk.noccupied == want["noccupied"]
    d = sk._decoded
    assert d.hashes.tolist() == want["hashes"]
    assert d.counts.tolist() == want["counts"]
    assert d.slot_index.dtype == np.int64
    assert d.slot_index.tolist() == want["slot_index"]


def test_cases_reach_every_gate():
    """The seeded cases above reach each outcome the layout has."""
    seen = set()
    for i in range(240):
        cfg, q, hashes, counts = _case(i)
        want = _reference_layout(hashes, counts, cfg.geometry(q))
        seen.add(want if isinstance(want, str) else "ok")
    assert seen == {"ok", "load", "runway", "displacement"}


def test_sparse_oversized_sketch_decodes_from_bytes():
    """20k keys in a qbits-24 sketch (about 0.1% load): the wire decode
    finds exactly the content the build seeded."""
    cfg = CqfConfig(key_bits=32, hash_mode=HashMode.DEFAULT, seed=3)
    rng = np.random.default_rng(5)
    keys = rng.integers(0, 2**63, 20_000, dtype=np.uint64)
    counts = rng.integers(1, 4, keys.size, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, counts, qbits=24)
    got = Cqf.from_bytes(sk.to_bytes())._decode()
    for name in ("hashes", "counts", "slot_index"):
        assert np.array_equal(getattr(got, name), getattr(sk._decoded, name))
    assert (sk.count(keys) >= counts).all()
