#!/usr/bin/env python3
"""Toy-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json at toy size (sf0.001, q = 16), once
untraced and once traced, and checks that each run exits 0, reports no
failed operation, and prints every end-to-end (untraced) or per-layer
(traced) metric of BENCHMARK.json with its unit.  It also checks that
BENCHMARK.json and perfbench/metrics.py list the same metrics.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import harness
import metrics


def main() -> int:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for mode, key, catalogue in ((0, "end_to_end", metrics.END_TO_END),
                                 (1, "per_layer", metrics.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != catalogue:
            problems.append(f"BENCHMARK.json {key} differs from metrics.py")
        for wl in bench["workloads"]:
            cmd = [sys.executable, os.path.join(harness.HERE, "run.py"),
                   "--workload", wl["name"], "--seed", "7", "--seconds", "1",
                   "--trace", str(mode), "--toy"]
            p = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True,
                               text=True, timeout=600)
            tag = f"{wl['name']} trace={mode}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']}/{res['attempted']} failed")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != declared:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json")
            print(f"{tag}: {len(got)} metrics, {res['attempted']} operations, ok",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
