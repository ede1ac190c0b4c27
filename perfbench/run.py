#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload kernel_bm --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Workloads: ``webtext_tokens``,
``kernel_bm``, ``headline_queries`` (see perfbench/README.md).  With
``--trace 0`` the result holds the end-to-end metrics; with ``--trace 1``
a separate traced pass gives the per-layer metrics, and the spans are
written to ``perfbench/.work/``.  ``--toy`` shrinks the inputs (sf0.001,
q = 16) for the self-check.  The last stdout line is the result; the line
before it records the host (nproc, cache sizes, CPU steal).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def main() -> int:
    t_age = _process_age_s()
    t_mark = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["webtext_tokens", "kernel_bm", "headline_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--toy", action="store_true",
                   help="sf0.001 and q = 16, for the self-check")
    args = p.parse_args()

    import harness

    sys.path.insert(0, harness.ROOT)
    try:
        import cqf_spark  # noqa: F401  (the program under test, from this checkout)
    except ImportError as e:
        print(f"[perfbench] cannot import cqf_spark from {harness.ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.dirname(os.path.abspath(cqf_spark.__file__)).startswith(harness.ROOT):
        print("[perfbench] cqf_spark resolved outside the checkout", file=sys.stderr)
        return 2
    os.makedirs(harness.WORK, exist_ok=True)

    t_host = time.perf_counter()
    host = harness.host_facts()
    host_s = time.perf_counter() - t_host

    def setup_clock() -> float:
        """Seconds since process start, less the host sampling above."""
        return t_age + (time.perf_counter() - t_mark) - host_s

    import metrics

    if args.workload == "kernel_bm":
        import wl_kernel as wl
    elif args.workload == "webtext_tokens":
        import wl_webtext as wl
    else:
        import wl_headline as wl

    ledger = harness.Ledger()
    values = wl.run(args, ledger, setup_clock)

    catalogue = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    unknown = set(values) - set(catalogue)
    if unknown:
        raise RuntimeError(f"workload reported unlisted metrics: {sorted(unknown)}")
    out = {k: (values.get(k, 0.0), unit) for k, unit in catalogue.items()}
    host.update(workload=args.workload, seed=args.seed, trace=args.trace,
                seconds=args.seconds, toy=args.toy)
    print(json.dumps({"host": host}))
    print(harness.result_line(ledger, out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
