"""The probe kernel (``Cqf._locate``) and the probe UDFs.

``_locate`` sorts one packed ``(hash prefix, row)`` word per needle and
returns its results in sorted order; ``count_hashes``, ``query`` and
``unique_indexes`` gather in that order and scatter once into the
caller's rows.  Every shape below is checked against a ``bisect``
reference over the decoded content: exact packing (the hash and row bits
fit 64 bits), prefix packing (they do not, so the hash is shifted), ties
on the prefix, duplicate, reverse-sorted, zero and one needles, and the
empty sketch.
"""

from bisect import bisect_left, bisect_right

import numpy as np
import pyarrow as pa
import pytest

from cqf_spark.config import CqfConfig, HashMode
from cqf_spark.core import Cqf, hash_keys
from cqf_spark.queries import INT_CONFIG, KV_CONFIG, TOKEN_CONFIG

_U64 = np.uint64
BIG = 2**60 + 1  # a long that float64 cannot hold


def _sketch(cfg: CqfConfig, n_keys: int, seed: int) -> Cqf:
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 2**63, n_keys, dtype=np.uint64)
    values = rng.integers(0, 1 << cfg.value_bits, n_keys, dtype=np.uint64)
    counts = rng.integers(1, 5, n_keys)
    return Cqf.from_keys(
        cfg, np.repeat(keys, counts), values=np.repeat(values, counts)
    )


def _stored(sk: Cqf) -> tuple[list[int], list[int], list[int]]:
    d = sk._decode()
    return d.hashes.tolist(), d.counts.tolist(), d.slot_index.tolist()


def _ref_counts(sk: Cqf, needles: np.ndarray) -> tuple[list[int], list[int]]:
    """Per needle: its count and its counter's slot index (0 / -1 if absent)."""
    hs, cs, si = _stored(sk)
    counts, slots = [], []
    for x in needles.tolist():
        i = bisect_left(hs, x)
        hit = i < len(hs) and hs[i] == x
        counts.append(cs[i] if hit else 0)
        slots.append(si[i] if hit else -1)
    return counts, slots


def _ref_query(sk: Cqf, key_hashes: np.ndarray) -> tuple[list[int], list[int]]:
    """qf_query per key hash: the count and value of its first stored entry."""
    hs, cs, _ = _stored(sk)
    vb = sk.config.value_bits
    counts, values = [], []
    for k in key_hashes.tolist():
        lo = bisect_left(hs, k << vb)
        hi = bisect_right(hs, (k << vb) | ((1 << vb) - 1))
        counts.append(cs[lo] if hi > lo else 0)
        values.append(hs[lo] & ((1 << vb) - 1) if hi > lo else 0)
    return counts, values


def _check_probes(sk: Cqf, needles: np.ndarray) -> None:
    """count_hashes and unique_index_hashes on packed needles, query on
    their key hashes, all against the bisect reference."""
    needles = np.ascontiguousarray(needles, dtype=np.uint64)
    want_c, want_s = _ref_counts(sk, needles)
    assert sk.count_hashes(needles).tolist() == want_c
    assert sk.unique_index_hashes(needles).tolist() == want_s
    kh = needles >> _U64(sk.config.value_bits)
    want_qc, want_qv = _ref_query(sk, kh)
    got_c, got_v = sk.query_hashes(kh)
    assert got_c.tolist() == want_qc
    assert got_v.tolist() == want_qv


def _mixed_needles(sk: Cqf, n: int, seed: int) -> np.ndarray:
    """Half stored hashes (hits), half random in-universe hashes, shuffled."""
    rng = np.random.default_rng(seed)
    stored = sk._decode().hashes
    bits = sk.config.key_bits + sk.config.value_bits
    hits = stored[rng.integers(0, stored.size, n // 2)]
    misses = rng.integers(0, 2**63, n - n // 2, dtype=np.uint64) << _U64(1)
    if bits < 64:
        misses &= _U64((1 << bits) - 1)
    out = np.concatenate([hits, misses])
    rng.shuffle(out)
    return out


def _check_locate_order(sk: Cqf, needles: np.ndarray) -> None:
    """``_locate``'s order is a permutation that sorts the needles by the
    hash prefix that fits next to the row bits, ties in row order."""
    needles = np.ascontiguousarray(needles, dtype=np.uint64)
    n = needles.size
    order, pos, found = sk._locate(needles)
    assert sorted(order.tolist()) == list(range(n))
    ib = max(1, (n - 1).bit_length())
    shift = max(0, sk.config.key_bits + sk.config.value_bits + ib - 64)
    prefix = (needles >> _U64(shift))[order]
    assert (prefix[1:] >= prefix[:-1]).all()
    tie = prefix[1:] == prefix[:-1]
    assert (order[1:][tie] > order[:-1][tie]).all()
    hs, _, _ = _stored(sk)
    want = [bisect_left(hs, x) for x in needles[order].tolist()]
    assert pos.tolist() == want
    assert found.tolist() == [
        p < len(hs) and hs[p] == x for p, x in zip(want, needles[order].tolist())
    ]


def test_exact_packing_2_20_needles():
    """key_bits 30 with 2**20 needles: 30 + 20 bits fit, no shift."""
    cfg = CqfConfig(key_bits=30, seed=3)
    sk = _sketch(cfg, 200_000, 1)
    needles = _mixed_needles(sk, 1 << 20, 2)
    _check_probes(sk, needles)
    _check_locate_order(sk, needles[:4096])


@pytest.mark.parametrize(
    "cfg, n",
    [
        (CqfConfig(key_bits=48, seed=5), (1 << 17) + 1),  # 48 + 18 > 64
        (KV_CONFIG, (1 << 17) + 1),  # 48 + 3 value bits + 18 > 64
        (CqfConfig(key_bits=64, seed=5), 5000),  # the word keeps 51 hash bits
    ],
)
def test_prefix_packing(cfg, n):
    sk = _sketch(cfg, 20_000, 3)
    needles = _mixed_needles(sk, n, 4)
    _check_probes(sk, needles)
    _check_locate_order(sk, needles)


def test_prefix_ties_differ_in_low_bits():
    """At key_bits 64 the low ``ib`` hash bits fall off the word, so
    needles that differ only there tie on the prefix and sort by row."""
    cfg = CqfConfig(key_bits=64, seed=9)
    sk = _sketch(cfg, 3000, 5)
    stored = sk._decode().hashes
    rng = np.random.default_rng(6)
    base = stored[rng.integers(0, stored.size, 512)]
    # 2048 needles -> 11 row bits dropped from the hash
    low = rng.integers(0, 1 << 11, base.size, dtype=np.uint64)
    needles = np.concatenate([base ^ low, base, base & ~_U64((1 << 11) - 1),
                              base | _U64((1 << 11) - 1)])
    rng.shuffle(needles)
    order, _, _ = sk._locate(needles)
    prefix = (needles >> _U64(11))[order]
    assert (prefix[1:] == prefix[:-1]).sum() > 1000  # many ties
    _check_probes(sk, needles)
    _check_locate_order(sk, needles)


@pytest.mark.parametrize("cfg", [CqfConfig(key_bits=30, seed=1), KV_CONFIG])
def test_duplicate_and_reverse_sorted_needles(cfg):
    sk = _sketch(cfg, 5000, 7)
    needles = _mixed_needles(sk, 3000, 8)
    dup = np.repeat(needles[:500], 7)
    _check_probes(sk, dup)
    _check_probes(sk, np.sort(needles)[::-1])
    _check_probes(sk, np.concatenate([needles, needles[::-1]]))


@pytest.mark.parametrize("cfg", [CqfConfig(key_bits=30, seed=1), KV_CONFIG])
def test_zero_and_one_needle(cfg):
    sk = _sketch(cfg, 1000, 9)
    empty = np.empty(0, dtype=np.uint64)
    assert sk.count_hashes(empty).dtype == np.uint64
    assert sk.count_hashes(empty).size == 0
    assert sk.unique_index_hashes(empty).size == 0
    c, v = sk.query_hashes(empty)
    assert c.size == v.size == 0
    stored = sk._decode().hashes
    _check_probes(sk, stored[:1])
    _check_probes(sk, stored[:1] ^ _U64(1))


@pytest.mark.parametrize("cfg", [CqfConfig(key_bits=30, seed=1), KV_CONFIG])
def test_empty_sketch(cfg):
    sk = Cqf.empty(cfg, 8)
    needles = np.arange(100, dtype=np.uint64)[::-1]
    assert sk.count_hashes(needles).tolist() == [0] * 100
    assert sk.unique_index_hashes(needles).tolist() == [-1] * 100
    c, v = sk.query_hashes(needles)
    assert c.tolist() == [0] * 100 and v.tolist() == [0] * 100
    assert sk.count_hashes(np.empty(0, dtype=np.uint64)).size == 0


def test_query_last_key_with_all_64_bits_used():
    """key_bits + value_bits = 64: the key hash 2**48 - 1 has no next key
    inside 64 bits, and its values must still be found."""
    cfg = CqfConfig(key_bits=48, value_bits=16, hash_mode=HashMode.NONE)
    top = (1 << 48) - 1
    keys = np.array([top, top, 5], dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, values=np.array([7, 9, 1], dtype=np.uint64))
    c, v = sk.query(np.array([top, 5, 6], dtype=np.uint64))
    assert c.tolist() == [1, 1, 0]
    assert v.tolist() == [7, 1, 0]


def test_key_level_methods_route_through_hashes():
    """count / query / unique_indexes equal their *_hashes twins."""
    sk = _sketch(KV_CONFIG, 2000, 11)
    keys = np.random.default_rng(12).integers(0, 2**63, 3000, dtype=np.uint64)
    kh = hash_keys(keys, KV_CONFIG)
    c, v = sk.query(keys)
    c2, v2 = sk.query_hashes(kh)
    assert (c == c2).all() and (v == v2).all()
    packed = kh << _U64(KV_CONFIG.value_bits)
    assert (sk.count(keys) == sk.count_hashes(packed)).all()
    assert (sk.unique_indexes(keys) == sk.unique_index_hashes(packed)).all()


# --------------------------------------------------------------------- #
# nulls next to longs float64 cannot hold
# --------------------------------------------------------------------- #

@pytest.mark.parametrize("cfg", [INT_CONFIG, TOKEN_CONFIG, KV_CONFIG])
@pytest.mark.parametrize("typ", [pa.int64(), pa.uint64()])
def test_hash_arrow_null_next_to_big_long(cfg, typ):
    from cqf_spark.aggregator import hash_arrow

    alone = hash_arrow(pa.array([BIG], typ), cfg)
    beside = hash_arrow(pa.array([None, BIG, None], typ), cfg)
    assert beside[1] == alone[0]
    assert alone[0] == hash_keys(np.array([BIG], dtype=np.uint64), cfg)[0]


def test_hash_arrow_null_floats_and_bools():
    from cqf_spark.aggregator import hash_arrow

    cfg = INT_CONFIG
    f = hash_arrow(pa.array([2.0, None, float("nan")]), cfg)
    assert f.tolist() == hash_keys(np.array([2, 0, 0], np.uint64), cfg).tolist()
    b = hash_arrow(pa.array([True, None, False]), cfg)
    assert b.tolist() == hash_keys(np.array([1, 0, 0], np.uint64), cfg).tolist()


def _one_batch(spark, rows, schema):
    """A DataFrame whose rows reach Python in one Arrow batch (behind a
    shuffle, so ``ensure_parallelism`` leaves its one partition alone)."""
    return spark.createDataFrame(rows, schema).repartition(1)


def test_build_sketches_value_and_count_next_to_null(spark):
    """value_col and count_col convert without float64: a value or count
    next to a null packs exactly as it does alone."""
    from cqf_spark.aggregator import build_sketches, tree_merge

    cfg = KV_CONFIG  # 3 value bits: BIG & 7 == 1, float64(BIG) & 7 == 0
    rows = [(1, BIG, 2**53 + 1), (2, None, None), (3, 6, 4)]
    df = _one_batch(spark, rows, "k long, v long, c long")
    got = tree_merge(build_sketches(df, "k", cfg, count_col="c", value_col="v"))
    keys = np.array([1, 3], dtype=np.uint64)
    want = Cqf.from_hashes(
        cfg,
        (hash_keys(keys, cfg) << _U64(3)) | np.array([BIG & 7, 6], np.uint64),
        np.array([2**53 + 1, 4], np.uint64),
    )
    assert got.to_bytes() == want.to_bytes()
    c, v = got.query(np.array([1, 2, 3], dtype=np.uint64))
    assert c.tolist() == [2**53 + 1, 0, 4]
    assert v.tolist() == [1, 0, 6]


@pytest.mark.parametrize("cfg", [INT_CONFIG, TOKEN_CONFIG])
def test_count_and_contains_udf_big_long_next_to_null(spark, cfg):
    from cqf_spark.aggregator import contains_udf, count_udf

    sk = Cqf.from_keys(cfg, np.array([BIG, BIG, 7], dtype=np.uint64))
    probes = _one_batch(spark, [(BIG,), (None,), (7,), (8,)], "k long")
    rows = probes.select(
        "k",
        count_udf(spark, sk)("k").alias("c"),
        contains_udf(spark, sk)("k").alias("m"),
    ).collect()
    got = {r.k: (r.c, r.m) for r in rows}
    assert got[BIG] == (2, True)
    assert got[7] == (1, True)
    assert got[None] == (0, False)
    assert got[8][0] == 0 or cfg is TOKEN_CONFIG  # DEFAULT mode may FP


def test_query_value_and_unique_index_udf_big_long_next_to_null(spark):
    from cqf_spark.aggregator import query_value_udf, unique_index_udf

    cfg = KV_CONFIG
    keys = np.array([BIG, 7], dtype=np.uint64)
    sk = Cqf.from_keys(cfg, keys, values=np.array([5, 2], dtype=np.uint64))
    probes = _one_batch(spark, [(BIG,), (None,), (7,), (8,)], "k long")
    rows = probes.select(
        "k",
        query_value_udf(spark, sk)("k").alias("v"),
        unique_index_udf(spark, sk)("k").alias("u"),
    ).collect()
    got = {r.k: (r.v, r.u) for r in rows}
    # unique_index probes at value 0, which neither key stores
    assert got[BIG] == (5, -1) and got[7] == (2, -1)
    assert got[None] == (-1, -1) and got[8] == (-1, -1)
    # INT_CONFIG: no value bits, so the index is the key's counter slot
    sk_int = Cqf.from_keys(INT_CONFIG, keys)
    rows = probes.select(
        "k", unique_index_udf(spark, sk_int)("k").alias("u")
    ).collect()
    want = dict(zip([BIG, 7], sk_int.unique_indexes(keys).tolist()))
    got = {r.k: r.u for r in rows}
    assert got[BIG] == want[BIG] >= 0 and got[7] == want[7] >= 0
    assert got[None] == -1 and got[8] == -1


def test_count_udf_string_and_value_packed_keys(spark):
    """String keys hash off the Arrow buffers; nulls read 0."""
    from cqf_spark.aggregator import count_udf, hash_arrow

    words = ["a", "bb", "a", "ccc"]
    sk = Cqf.from_hashes(TOKEN_CONFIG, hash_arrow(pa.array(words), TOKEN_CONFIG))
    probes = _one_batch(spark, [("a",), (None,), ("ccc",), ("",)], "k string")
    got = {r.k: r.c for r in probes.select(
        "k", count_udf(spark, sk)("k").alias("c")).collect()}
    assert got["a"] == 2 and got["ccc"] == 1 and got[None] == 0
