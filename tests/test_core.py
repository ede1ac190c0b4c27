"""Cqf core: parity with the reference's own test suite (src/test.c flow),
golden-content equality, merge associativity with bit-identical bytes, and
the published false-positive bound."""

import bisect

import numpy as np
import pytest

from cqf_spark.config import CqfConfig, HashMode
from cqf_spark.core import Cqf, NoSpaceError, hash_keys


def _cfg(key_bits, seed=12345, mode=HashMode.DEFAULT, value_bits=0):
    return CqfConfig(
        key_bits=key_bits, value_bits=value_bits, hash_mode=mode, seed=seed
    )


# --------------------------------------------------------------------- #
# golden parity with the compiled reference
# --------------------------------------------------------------------- #

def test_golden_content_parity(golden):
    """Insert the exact keys the reference harness inserted; our decoded
    (hash, count) multiset must equal the reference iterator's output."""
    g = golden["cqf_default"]
    cfg = _cfg(g["key_bits"], seed=g["seed"])
    keys = np.array(g["keys"], dtype=np.uint64)
    counts = np.array(
        [3 + (i % 50) if i % 11 == 0 else 1 + (i % 2) for i in range(keys.size)],
        dtype=np.uint64,
    )
    sk = Cqf.from_keys(cfg, keys, counts, qbits=g["qbits"], auto_resize=False)
    expect = np.array(g["items"], dtype=np.uint64)
    kh, _, cnt = sk.items()
    assert kh.size == expect.shape[0]
    assert (kh == expect[:, 0]).all()
    assert (cnt == expect[:, 1]).all()
    assert sk.nelts == g["nelts"]
    assert sk.ndistinct == g["ndistinct"]
    # reference counts occupied slots identically (variable-length encodings)
    assert sk.noccupied == g["noccupied"]


def test_golden_probe_parity(golden):
    g = golden["cqf_default"]
    cfg = _cfg(g["key_bits"], seed=g["seed"])
    keys = np.array(g["keys"], dtype=np.uint64)
    counts = np.array(
        [3 + (i % 50) if i % 11 == 0 else 1 + (i % 2) for i in range(keys.size)],
        dtype=np.uint64,
    )
    sk = Cqf.from_keys(cfg, keys, counts, qbits=g["qbits"], auto_resize=False)
    probes = np.array([p[0] for p in golden["cqf_default"]["probes"]], dtype=np.uint64)
    expect = np.array([p[1] for p in golden["cqf_default"]["probes"]], dtype=np.uint64)
    assert (sk.count(probes) == expect).all()
    # the authentic rank/select navigation path agrees
    assert (sk.count_navigate(probes) == expect).all()


def test_golden_merge_parity(golden):
    g = golden["merge"]
    cfg = _cfg(g["key_bits"], seed=g["seed"])
    ka = np.array([r[0] for r in g["keys_a"]], dtype=np.uint64)
    ca = np.array([r[1] for r in g["keys_a"]], dtype=np.uint64)
    kb = np.array([r[0] for r in g["keys_b"]], dtype=np.uint64)
    cb = np.array([r[1] for r in g["keys_b"]], dtype=np.uint64)
    a = Cqf.from_keys(cfg, ka, ca, qbits=g["qa"], auto_resize=False)
    b = Cqf.from_keys(cfg, kb, cb, qbits=g["qb"], auto_resize=False)
    m = a.merge(b, qbits=g["qm"])
    expect = np.array(g["items"], dtype=np.uint64)
    kh, _, cnt = m.items()
    assert kh.size == expect.shape[0]
    assert (kh == expect[:, 0]).all()
    assert (cnt == expect[:, 1]).all()


# --------------------------------------------------------------------- #
# the reference's flagship round-trip (src/test.c:26-215, scaled down)
# --------------------------------------------------------------------- #

@pytest.mark.parametrize("mode", [HashMode.DEFAULT, HashMode.INVERTIBLE])
def test_test_filter_roundtrip(mode):
    qbits, r = 14, 8
    cfg = _cfg(qbits + r, mode=mode)
    nvals = int(0.95 * (1 << qbits) / 3)  # count=4 -> ~3 slots per key
    rng = np.random.default_rng(42)
    keys = np.unique(rng.integers(0, 1 << (qbits + r), nvals, dtype=np.uint64))
    sk = Cqf.from_keys(
        cfg, keys, np.full(keys.size, 4, dtype=np.uint64), qbits=qbits
    )
    # 1. lookups >= inserted count (test.c:80-87)
    assert (sk.count(keys) >= 4).all()
    # 2. serialize -> deserialize -> identical bytes and counts (test.c:111-134)
    blob = sk.to_bytes()
    sk2 = Cqf.from_bytes(blob)
    assert sk2.to_bytes() == blob
    assert (sk2.count(keys) >= 4).all()
    assert sk2.nelts == sk.nelts and sk2.ndistinct == sk.ndistinct
    # 3. iterator walk: every key's count present; unique_index strictly
    #    increasing over hash order (test.c:136-184)
    kh, _, cnt = sk.items()
    assert (cnt >= 4).all()
    assert int(cnt.sum()) == sk.nelts
    idxs = [sk.unique_index(int(k)) for k in keys[:50]]
    assert all(i >= 0 for i in idxs)
    hs = hash_keys(keys[:50], cfg)
    order = np.argsort(hs)
    assert (np.diff(np.array(idxs)[order]) > 0).all()
    # 4. delete-then-absent (test.c:187-210)
    victim = int(keys[7])
    sk3 = sk.delete_key_value(victim)
    assert int(sk3.count(np.array([victim], dtype=np.uint64))[0]) == 0
    others = keys[keys != keys[7]]
    assert (sk3.count(others) >= 4).all()
    # 5. INVERTIBLE mode recovers keys exactly
    if mode == HashMode.INVERTIBLE:
        assert (np.sort(sk.keys()) == np.sort(keys)).all()


def test_remove_and_set_count():
    cfg = _cfg(20)
    keys = np.arange(100, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, np.full(100, 10, dtype=np.uint64), qbits=8)
    sk = sk.remove(keys[:10], np.full(10, 4, dtype=np.uint64))
    assert (sk.count(keys[:10]) == 6).all()
    assert (sk.count(keys[10:]) == 10).all()
    sk = sk.set_count(5, 123)
    assert int(sk.count(np.array([5], dtype=np.uint64))[0]) == 123
    # remove clamps at zero (src/gqf.c:1996)
    sk = sk.remove(np.array([6], dtype=np.uint64), np.array([99], dtype=np.uint64))
    assert int(sk.count(np.array([6], dtype=np.uint64))[0]) == 0


def test_auto_resize_on_overflow():
    cfg = _cfg(24)
    keys = np.arange(2000, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, qbits=8)  # 256 slots — must grow
    assert sk.geom.qbits > 8
    assert (sk.count(keys) == 1).all()
    with pytest.raises(NoSpaceError):
        Cqf.from_keys(cfg, keys, qbits=8, auto_resize=False)


def test_resized_preserves_content():
    cfg = _cfg(22)
    rng = np.random.default_rng(1)
    keys = rng.integers(0, 2**40, 500, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, qbits=10)
    grown = sk.resized(12)
    assert grown.nelts == sk.nelts and grown.ndistinct == sk.ndistinct
    assert (grown.count(keys) == sk.count(keys)).all()


# --------------------------------------------------------------------- #
# merge semantics (src/gqf.c:2432-2544) + canonical bytes
# --------------------------------------------------------------------- #

def test_merge_associative_bit_identical():
    cfg = _cfg(26, seed=777)
    rng = np.random.default_rng(5)
    keys = rng.integers(0, 2**50, 3000, dtype=np.uint64)
    counts = rng.integers(1, 40, 3000, dtype=np.uint64)
    parts = np.array_split(np.arange(3000), 4)
    sketches = [
        Cqf.from_keys(cfg, keys[p], counts[p], qbits=12) for p in parts
    ]
    single = Cqf.from_keys(cfg, keys, counts, qbits=12)
    m1 = Cqf.merge_many(sketches, qbits=12)
    m2 = Cqf.merge_many(sketches[::-1], qbits=12)
    m3 = sketches[0].merge(sketches[1]).merge(sketches[2]).merge(sketches[3])
    assert m1.to_bytes() == m2.to_bytes() == m3.to_bytes() == single.to_bytes()
    assert m1.nelts == int(counts.sum())


def test_merge_rejects_config_mismatch():
    a = Cqf.from_keys(_cfg(20, seed=1), np.arange(10, dtype=np.uint64), qbits=8)
    b = Cqf.from_keys(_cfg(20, seed=2), np.arange(10, dtype=np.uint64), qbits=8)
    with pytest.raises(ValueError):
        a.merge(b)  # we FIX the reference's &&-vs-|| check (src/gqf.c:2438)


def test_intersect_inner_product_magnitude():
    cfg = _cfg(30, mode=HashMode.INVERTIBLE)
    a_keys = np.arange(0, 600, dtype=np.uint64)
    b_keys = np.arange(300, 900, dtype=np.uint64)
    a = Cqf.from_keys(cfg, a_keys, np.full(600, 2, np.uint64), qbits=10)
    b = Cqf.from_keys(cfg, b_keys, np.full(600, 3, np.uint64), qbits=10)
    inter = a.intersect(b)
    assert inter.ndistinct == 300  # exact: INVERTIBLE has no collisions
    assert a.inner_product(b) == 300 * 2 * 3
    assert a.magnitude() == int(np.sqrt(600 * 4))
    assert a.inner_product(a) == 600 * 4


# --------------------------------------------------------------------- #
# false-positive bound (bm.c:767-831 methodology)
# --------------------------------------------------------------------- #

def test_fp_rate_bound_at_95_load():
    qbits, r = 16, 8
    cfg = _cfg(qbits + r, seed=2024)
    nvals = int(0.95 * (1 << qbits))
    rng = np.random.default_rng(99)
    keys = rng.integers(0, 2**63, nvals, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, qbits=qbits)  # count=1 each, ~95% load
    assert sk.load_factor > 0.90
    # no false negatives, ever
    assert (sk.count(keys) > 0).all()
    # disjoint probe stream
    probes = rng.integers(2**63, 2**64, 200_000, dtype=np.uint64)
    fp = int((sk.count(probes) > 0).sum())
    rate = fp / probes.size
    bound = 2.0**-r  # published bound at this load (README.md:36-38)
    assert rate <= bound * 1.5, f"FP rate {rate:.5f} vs bound {bound:.5f}"


def test_value_bits_roundtrip():
    cfg = _cfg(20, value_bits=4)
    keys = np.arange(50, dtype=np.uint64)
    vals = (keys * 3) & np.uint64(0xF)
    sk = Cqf.from_keys(cfg, keys, values=vals, qbits=8)
    cnt, got_vals = sk.query(keys)
    assert (cnt == 1).all()
    assert (got_vals == vals).all()
    # count_key_value with the right value matches; wrong value misses
    assert (sk.count(keys, vals) == 1).all()
    assert (sk.count(keys, (vals + np.uint64(1)) & np.uint64(0xF)) == 0).all()


def test_items_from_range_scan():
    cfg = _cfg(20, mode=HashMode.NONE)
    keys = np.arange(0, 1000, 10, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, qbits=8)
    h, c = sk.items_from(500)
    assert int(h[0]) == 500
    assert h.size == 50


def test_null_keys_dropped_and_probes_safe(spark):
    """Null keys never enter a sketch; null probes return 0/False."""
    from cqf_spark.aggregator import (
        contains_udf,
        count_udf,
        cqf_aggregate,
    )
    from cqf_spark.config import CqfConfig, HashMode

    cfg = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=5)
    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,), (None,)], "k long"
    )
    sk = cqf_aggregate(df, "k", cfg)
    assert sk.sum_of_counts == 3 and sk.num_distinct == 2
    probes = spark.createDataFrame([(1,), (None,), (7,)], "k long")
    rows = probes.select(
        "k",
        count_udf(spark, sk)("k").alias("c"),
        contains_udf(spark, sk)("k").alias("m"),
    ).collect()
    got = {r.k: (r.c, r.m) for r in rows}
    assert got[1] == (2, True)
    assert got[None] == (0, False)
    assert got[7] == (0, False)


# --------------------------------------------------------------------- #
# the probe kernel and the decode a build keeps
# --------------------------------------------------------------------- #

def _wire_decode(sk):
    """The lazily decoded content of the sketch's wire image."""
    return Cqf.from_bytes(sk.to_bytes())._decode()


def _sources(cfg):
    rng = np.random.default_rng(17)
    keys = rng.integers(0, 1 << cfg.key_bits, 3000, dtype=np.uint64)
    # up to 50k per key: many counters span several slots
    counts = rng.integers(1, 50_000, keys.size, dtype=np.uint64)
    values = (
        rng.integers(0, 1 << cfg.value_bits, keys.size, dtype=np.uint64)
        if cfg.value_bits else None
    )
    base = Cqf.from_keys(cfg, keys, counts, values=values)
    parts = [
        Cqf.from_keys(cfg, keys[i::3], counts[i::3], qbits=base.geom.qbits)
        for i in range(3)
    ]
    return {
        "build": lambda: base,
        "empty": lambda: Cqf.empty(cfg, 8),
        "merge_many": lambda: Cqf.merge_many(parts),
        "resized": lambda: base.resized(base.geom.qbits + 1),
        "canonicalized": lambda: base.canonicalized(),
        "insert": lambda: base.insert(keys[:500], counts[:500]),
        "remove": lambda: base.remove(keys[:500], counts[:500] // 2 + 1),
    }


@pytest.mark.parametrize("source", [
    "build", "empty", "merge_many", "resized", "canonicalized", "insert",
    "remove",
])
@pytest.mark.parametrize("value_bits", [0, 4])
@pytest.mark.parametrize("mode", list(HashMode))
def test_seeded_decode_equals_wire_decode(mode, value_bits, source):
    """A built sketch keeps the decode its layout pass already holds; it
    must equal, element for element, what decoding its bytes yields."""
    sk = _sources(_cfg(24, mode=mode, value_bits=value_bits))[source]()
    assert sk._decoded is not None  # seeded, no decode_runs pass
    got, want = sk._decoded, _wire_decode(sk)
    for name in ("hashes", "counts", "slot_index"):
        a, b = getattr(got, name), getattr(want, name)
        assert a.dtype == b.dtype, name
        assert np.array_equal(a, b), name


def _python_lookup(stored, column, h, fill):
    """Plain-Python reference search: column value of ``h``, else fill."""
    i = bisect.bisect_left(stored, h)
    return column[i] if i < len(stored) and stored[i] == h else fill


def _probe_sets(stored_keys, key_bits):
    rng = np.random.default_rng(23)
    top = int(stored_keys.max())
    misses = np.setdiff1d(
        rng.integers(0, 1 << key_bits, 2000, dtype=np.uint64), stored_keys
    )
    mixed = np.concatenate([stored_keys[::2], misses[:500]])
    return {
        "empty": np.empty(0, dtype=np.uint64),
        "sorted": np.sort(mixed),
        "reverse_sorted": np.sort(mixed)[::-1].copy(),
        "duplicate_heavy": rng.choice(stored_keys[:5], 4000),
        "all_misses": misses,
        "past_last": np.arange(top + 1, min(top + 300, 1 << key_bits),
                               dtype=np.uint64),
    }


@pytest.mark.parametrize("probes", [
    "empty", "sorted", "reverse_sorted", "duplicate_heavy", "all_misses",
    "past_last",
])
@pytest.mark.parametrize("value_bits", [0, 4])
def test_probe_kernel_matches_navigate_and_python(value_bits, probes):
    """count, query and unique_indexes agree with the rank/select path
    and with a plain-Python search, whatever the order of the needles.
    NONE mode makes a key its own hash, so probe order is hash order."""
    cfg = _cfg(20, mode=HashMode.NONE, value_bits=value_bits)
    rng = np.random.default_rng(29)
    stored_keys = np.unique(rng.integers(0, 1 << 19, 3000, dtype=np.uint64))
    counts = rng.integers(1, 5000, stored_keys.size, dtype=np.uint64)
    values = (stored_keys * np.uint64(7)) & np.uint64((1 << value_bits) - 1)
    sk = Cqf.from_keys(cfg, stored_keys, counts, values=values)
    keys = _probe_sets(stored_keys, cfg.key_bits)[probes]

    w = _wire_decode(sk)
    stored = [int(x) for x in w.hashes]
    vb = value_bits
    packed = [int(k) << vb for k in keys]  # value 0, as count() probes
    want_count = [_python_lookup(stored, w.counts.tolist(), h, 0) for h in packed]
    want_uidx = [_python_lookup(stored, w.slot_index.tolist(), h, -1)
                 for h in packed]
    assert sk.count(keys).tolist() == want_count
    assert sk.count_navigate(keys).tolist() == want_count
    assert sk.unique_indexes(keys).tolist() == want_uidx

    # qf_query: the first stored entry of each key, with its value
    want_q = []
    for k in keys.tolist():
        i = bisect.bisect_left(stored, k << vb)
        if i < len(stored) and stored[i] >> vb == k:
            want_q.append((int(w.counts[i]), stored[i] & ((1 << vb) - 1)))
        else:
            want_q.append((0, 0))
    qc, qv = sk.query(keys)
    assert list(zip(qc.tolist(), qv.tolist())) == want_q


@pytest.mark.parametrize("mutate", ["insert1", "remove1", "insert1_new"])
def test_splice_invalidates_seeded_decode(mutate):
    """An in-place splice must drop the decode the build kept: the next
    probe sees the new count and the new slot indexes."""
    cfg = _cfg(22)
    keys = np.arange(1, 2000, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, np.full(keys.size, 3, np.uint64))
    probe = np.array([7, 5000], dtype=np.uint64)
    assert sk.count(probe).tolist() == [3, 0]  # served by the seeded decode
    if mutate == "insert1":
        sk.insert1(7, count=40)
        want = [43, 0]
    elif mutate == "remove1":
        sk.remove1(7, count=3)
        want = [0, 0]
    else:
        sk.insert1(5000, count=2)
        want = [3, 2]
    assert sk.count(probe).tolist() == want
    w = _wire_decode(sk)
    assert np.array_equal(sk._decode().slot_index, w.slot_index)
    assert np.array_equal(sk.unique_indexes(keys),
                          Cqf.from_bytes(sk.to_bytes()).unique_indexes(keys))


@pytest.mark.parametrize("value_bits", [0, 4])
@pytest.mark.parametrize("key_bits", [20, 28])  # bps 8/12 and 16/20 at q=12
@pytest.mark.parametrize("mode", list(HashMode))
def test_total_size_in_bytes_is_wire_length(mode, key_bits, value_bits):
    cfg = _cfg(key_bits, mode=mode, value_bits=value_bits)
    rng = np.random.default_rng(31)
    keys = rng.integers(0, 1 << key_bits, 2000, dtype=np.uint64)
    values = (
        rng.integers(0, 1 << value_bits, keys.size, dtype=np.uint64)
        if value_bits else None
    )
    for sk in (
        Cqf.empty(cfg, 12),
        Cqf.from_keys(cfg, keys, rng.integers(1, 9, keys.size, dtype=np.uint64),
                      values=values, qbits=12),
    ):
        assert sk.total_size_in_bytes == len(sk.to_bytes())


def test_corrupt_counter_encoding_fails_loudly():
    """A blob whose CRC matches but whose slots no longer decode to its
    header (two count-1 counters turned into one count-2 counter) raises
    on the first probe instead of answering from the corrupt content."""
    cfg = _cfg(24)
    keys = np.arange(1, 3000, dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys)
    bad = Cqf.from_bytes(sk.to_bytes())
    starts = np.maximum(bad.occ_pos[1:], bad.runend_pos[:-1] + 1)
    run = 1 + int(np.flatnonzero(bad.runend_pos[1:] > starts)[0])
    k = int(starts[run - 1]) + 1  # second slot of a run of count-1 counters
    assert bad.slots[k] > bad.slots[k - 1]
    bad.slots[k] = bad.slots[k - 1]
    blob = bad.to_bytes()  # same header, fresh CRC
    assert Cqf.from_bytes(sk.to_bytes()).count(keys[:5]).tolist() == [1] * 5
    with pytest.raises(ValueError, match="corrupt sketch"):
        Cqf.from_bytes(blob).count(keys[:5])
