"""Bit-exact parity of the hash family with the reference C implementation
(golden vectors from src/hashutil.c:23-64, 132-181)."""

import numpy as np
import pytest

from cqf_spark.functions.hashing import (
    hash_64,
    hash_64i,
    murmur64a_bytes,
    murmur64a_u64,
)


def test_murmur_u64_golden(golden):
    rows = golden["murmur_u64"]
    keys = np.array([r[0] for r in rows], dtype=np.uint64)
    for key, seed, expect in rows:
        got = murmur64a_u64(np.array([key], dtype=np.uint64), seed)[0]
        assert int(got) == expect
    # batch path agrees with per-element path
    seeds = {r[1] for r in rows}
    for seed in list(seeds)[:3]:
        batch = murmur64a_u64(keys, seed)
        single = np.array(
            [murmur64a_u64(keys[i : i + 1], seed)[0] for i in range(keys.size)]
        )
        assert (batch == single).all()


def test_murmur_bytes_golden(golden):
    rows = golden["murmur_bytes"]
    data = [bytes.fromhex(r[0]) for r in rows]
    expect = np.array([r[1] for r in rows], dtype=np.uint64)
    got = murmur64a_bytes(data, 42)
    assert (got == expect).all()


def test_murmur_bytes_matches_u64_on_8_bytes():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**63, 100, dtype=np.uint64)
    as_bytes = [int(k).to_bytes(8, "little") for k in keys]
    assert (murmur64a_bytes(as_bytes, 99) == murmur64a_u64(keys, 99)).all()


def test_wang_golden_and_inverse(golden):
    for key, kb, h_expect, ki_expect in golden["wang"]:
        mask = (1 << kb) - 1 if kb < 64 else 0xFFFFFFFFFFFFFFFF
        h = hash_64(np.array([key], dtype=np.uint64), mask)[0]
        assert int(h) == h_expect
        ki = hash_64i(np.array([h], dtype=np.uint64), mask)[0]
        assert int(ki) == ki_expect == key  # bijectivity round-trip


def test_wang_bijective_bulk():
    rng = np.random.default_rng(3)
    for kb in (8, 17, 32, 53, 64):
        mask = (1 << kb) - 1 if kb < 64 else 0xFFFFFFFFFFFFFFFF
        keys = rng.integers(0, 2**64, 5000, dtype=np.uint64) & np.uint64(mask)
        h = hash_64(keys, mask)
        assert (hash_64i(h, mask) == keys).all()
        assert np.unique(h).size == np.unique(keys).size


def _murmur64a_scalar(data: bytes, seed: int) -> int:
    """MurmurHash64A one byte string at a time (src/hashutil.c:23-64)."""
    m, r, mask = 0xC6A4A7935BD1E995, 47, (1 << 64) - 1
    h = (seed ^ (len(data) * m)) & mask
    body = len(data) // 8 * 8
    for i in range(0, body, 8):
        k = (int.from_bytes(data[i : i + 8], "little") * m) & mask
        k ^= k >> r
        k = (k * m) & mask
        h = ((h ^ k) * m) & mask
    tail = data[body:]
    if tail:
        h = ((h ^ int.from_bytes(tail, "little")) * m) & mask
    h ^= h >> r
    h = (h * m) & mask
    return h ^ (h >> r)


@pytest.mark.parametrize("longest", [7, 127, 128, 32_767, 32_768, 40_000])
def test_murmur_concat_row_length_dtypes(longest):
    """Row lengths sort in the narrowest signed dtype that holds them
    (int8, int16, then int32); hashes stay bit-identical for empty rows,
    rows of 1-7 bytes and rows past 32,767 bytes."""
    rng = np.random.default_rng(longest)
    lens = [0, 0, 1, 2, 3, 4, 5, 6, 7, 0, 3, 7, 1]
    lens += rng.integers(0, min(longest, 64) + 1, 40).tolist() + [longest]
    rng.shuffle(lens)
    data = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for n in lens]
    got = murmur64a_bytes(data, 1234)
    assert got.tolist() == [_murmur64a_scalar(b, 1234) for b in data]


def test_murmur_concat_all_empty_rows():
    got = murmur64a_bytes([b""] * 5, 7)
    assert got.tolist() == [_murmur64a_scalar(b"", 7)] * 5
