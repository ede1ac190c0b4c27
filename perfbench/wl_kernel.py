"""``kernel_bm``: the reference's ``bm.c`` in one Python process, no Spark.

Uniform random keys from the seed fill a q = 22, r = 8 sketch to 95% load
through ``Cqf.from_keys``.  Lookups probe every inserted key in seeded
random order, then an equal-size disjoint key set (inserted keys lie below
2**63, absent keys at or above it).  The merge follows
``bm.c -a 4``: four q = 20 filters in the same 30-bit hash space are
serialized in setup; the timed step is ``from_bytes`` -> ``merge_many``
-> ``to_bytes``, the body of one ``tree_merge`` step.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np

import harness
import tracing
from metrics import LOADS

R = 8
K_MERGE = 4
CONFIG_SEED = 0xC0F


@dataclass
class Inputs:
    cfg: object
    q: int
    seed: int
    inserted: np.ndarray
    probes: np.ndarray  # inserted keys in seeded random order
    absent: np.ndarray  # disjoint from inserted
    merge_blobs: list[bytes]
    merge_keys: int


def make_inputs(seed: int, q: int) -> Inputs:
    from cqf_spark.config import CqfConfig, HashMode
    from cqf_spark.core import Cqf

    cfg = CqfConfig(key_bits=q + R, hash_mode=HashMode.DEFAULT, seed=CONFIG_SEED)
    rng = np.random.default_rng(seed)
    n = int(0.95 * (1 << q))
    # inserted keys have the top bit clear and absent keys have it set, so
    # the two sets are disjoint by construction.  At least 2**20 absent
    # keys: at n = 62k (q = 16) the FP count's noise alone would cross the
    # 2**-8 bound for about one seed in five.
    top = np.uint64(1 << 63)
    inserted = rng.integers(0, 1 << 63, n, dtype=np.uint64)
    absent = rng.integers(0, 1 << 63, max(n, 1 << 20), dtype=np.uint64) | top
    probes = inserted[rng.permutation(n)]
    qm = q - (K_MERGE + 1) // 2  # bm.c: inputs at q, output at q + ceil(k/2)
    m = int(0.95 * (1 << qm))
    blobs = [
        Cqf.from_keys(
            cfg, rng.integers(0, 2**64, m, dtype=np.uint64), qbits=qm
        ).to_bytes()
        for _ in range(K_MERGE)
    ]
    return Inputs(cfg, q, seed, inserted, probes, absent, blobs, K_MERGE * m)


def warm(inp: Inputs) -> None:
    """First-touch the arenas a full-size build needs."""
    from cqf_spark.core import Cqf

    Cqf.from_keys(inp.cfg, inp.inserted, qbits=inp.q)


def merge_step(blobs: list[bytes], q: int) -> bytes:
    from cqf_spark.core import Cqf

    return Cqf.merge_many([Cqf.from_bytes(b) for b in blobs], qbits=q).to_bytes()


class Kernel:
    def __init__(self, inp: Inputs, ledger: harness.Ledger) -> None:
        self.inp = inp
        self.ledger = ledger
        self.cycles: list[dict[str, float]] = []
        self.merged: bytes | None = None
        self.sketch = None

    def cycle(self) -> bool:
        """One build + lookup + false lookup + merge; False if an op raised."""
        from cqf_spark.core import Cqf

        inp, L = self.inp, self.ledger
        n = inp.inserted.size
        t0 = time.perf_counter()
        sk = L.run("from_keys", lambda: Cqf.from_keys(inp.cfg, inp.inserted, qbits=inp.q))
        t1 = time.perf_counter()
        if sk is None:
            return False
        hits = L.run("count", lambda: sk.count(inp.probes))
        t2 = time.perf_counter()
        miss = L.run("count_false", lambda: sk.count(inp.absent))
        t3 = time.perf_counter()
        merged = L.run("merge", lambda: merge_step(inp.merge_blobs, inp.q))
        t4 = time.perf_counter()
        if hits is None or miss is None or merged is None:
            return False
        L.check("no_false_negatives", bool((hits >= 1).all()))
        n_miss = inp.absent.size
        fps = int((miss > 0).sum())
        L.check("fp_rate", fps / n_miss <= 2.0**-R, f"{fps}/{n_miss}")
        if self.merged is None:
            self.merged = merged
        else:
            L.check("merge_deterministic", merged == self.merged)
        self.sketch = sk
        self.cycles.append({
            "job_s": t4 - t0,
            "insert_mops": n / (t1 - t0) / 1e6,
            "lookup_mops": n / (t2 - t1) / 1e6,
            "false_lookup_mops": n_miss / (t3 - t2) / 1e6,
            "merge_mops": inp.merge_keys / (t4 - t3) / 1e6,
            "fp_rate": fps / n_miss,
        })
        return True

    def final_checks(self) -> float:
        """Merge-order and round-trip checks; returns bits per key."""
        from cqf_spark.core import Cqf

        inp, L = self.inp, self.ledger
        rev = L.run("merge_reversed", lambda: merge_step(inp.merge_blobs[::-1], inp.q))
        L.check("merge_order_identical", rev is not None and rev == self.merged)
        blob = self.sketch.to_bytes()
        L.check("round_trip", Cqf.from_bytes(blob).to_bytes() == blob)
        return len(blob) * 8 / inp.inserted.size


def run(args, ledger: harness.Ledger, setup_clock) -> dict[str, float]:
    q = 16 if args.toy else 22
    t_imports = setup_clock()
    # input generation runs three times and counts once, at its median
    gen = []
    inp = None
    for _ in range(1 if args.trace else 3):
        t0 = time.perf_counter()
        inp = make_inputs(args.seed, q)
        gen.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm(inp)
    setup_s = t_imports + harness.median(gen) + (time.perf_counter() - t0)

    k = Kernel(inp, ledger)
    if not args.trace:
        harness.closed_loop(args.seconds, k.cycle)
        if not k.cycles:
            raise RuntimeError("no kernel cycle completed")
        k.final_checks()
        return {
            "setup_s": setup_s,
            "peak_rss_mb": harness.self_peak_rss_mb(),
            "job_s": harness.median([c["job_s"] for c in k.cycles]),
        }
    return traced(k, inp, f"kernel_bm-{args.seed}")


def traced(k: Kernel, inp: Inputs, run_id: str) -> dict[str, float]:
    from cqf_spark.core import Cqf, hash_keys

    if not k.cycle():
        raise RuntimeError("untraced kernel cycle failed")
    bits_per_key = k.final_checks()
    base = k.cycles[-1]
    tr = tracing.Tracer()
    tr.run_id = run_id
    tracing.patch_library(tr)
    try:
        with tr.span("job"):
            k.cycle()
    finally:
        tr.unpatch()
        tr.dump(os.path.join(harness.WORK, f"trace-{run_id}.jsonl"))
    # untraced cycles before and after the traced one bracket it
    if not k.cycle():
        raise RuntimeError("untraced kernel cycle failed")
    untraced = harness.median([base["job_s"], k.cycles[-1]["job_s"]])
    root = next(s for s in tr.spans if s.name == "job")
    out = tracing.ledger(tr.spans, root)
    out["trace.untraced_job_s"] = untraced
    out["trace.overhead_share"] = out["trace.job_s"] / untraced - 1.0
    for key in ("insert_mops", "lookup_mops", "false_lookup_mops", "merge_mops",
                "fp_rate"):
        out[f"job.{key}"] = base[key]
    out["job.bits_per_key"] = bits_per_key
    for name, metric in (
        ("counter.encode_counters", "counter.encode_counters_s"),
        ("bitpack.pack_slots", "bitpack.pack_slots_s"),
        ("core.to_bytes", "core.to_bytes_s"),
        ("bitpack.unpack_slots", "bitpack.unpack_slots_s"),
        ("core.from_bytes", "core.from_bytes_s"),
        ("core.merge_many", "core.merge_many_s"),
    ):
        out[metric] = tracing.total_s(tr.spans, root, name)

    # layer probes, outside the traced job
    cfg, q = inp.cfg, inp.q
    n = inp.inserted.size
    out["core.hash_keys_mops"] = n / best_of(3, lambda: hash_keys(inp.inserted, cfg)) / 1e6
    hashes = hash_keys(inp.inserted, cfg)
    miss_h = hash_keys(inp.absent, cfg)
    rng = np.random.default_rng(inp.seed)
    n_probe = min(n, 1 << 18)
    for p in LOADS:
        kk = int(p / 100 * (1 << q))
        t_build = best_of(2, lambda: Cqf.from_hashes(cfg, hashes[:kk], qbits=q))
        out[f"core.from_hashes_mops.load{p}"] = kk / t_build / 1e6
        sk = Cqf.from_hashes(cfg, hashes[:kk], qbits=q)
        sk.count_hashes(hashes[:1])  # decode outside the timed probe
        hit = hashes[:kk][rng.integers(0, kk, n_probe)]
        out[f"core.count_hashes_mops.load{p}"] = n_probe / best_of(
            2, lambda: sk.count_hashes(hit)) / 1e6
        out[f"core.count_hashes_miss_mops.load{p}"] = n_probe / best_of(
            2, lambda: sk.count_hashes(miss_h[:n_probe])) / 1e6
    out["core.decode_s"] = decode_s(k.sketch.to_bytes(), hashes[:1])
    return out


def decode_s(blob: bytes, probe: np.ndarray) -> float:
    """First ``count_hashes`` on a fresh ``from_bytes`` sketch minus the
    second: the lazy decode the first probe pays."""
    from cqf_spark.core import Cqf

    fresh = Cqf.from_bytes(blob)
    t0 = time.perf_counter()
    fresh.count_hashes(probe)
    t1 = time.perf_counter()
    fresh.count_hashes(probe)
    t2 = time.perf_counter()
    return (t1 - t0) - (t2 - t1)


def best_of(n: int, fn) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best
