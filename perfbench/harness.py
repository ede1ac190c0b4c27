"""Shared plumbing: paths, host facts, the operation ledger, process-tree
memory and shutdown, and the result line."""

from __future__ import annotations

import json
import os
import resource
import signal
import statistics
import sys
import time
import traceback
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cache_sizes() -> dict[str, str]:
    out = {}
    base = "/sys/devices/system/cpu/cpu0/cache"
    try:
        for idx in sorted(os.listdir(base)):
            with open(f"{base}/{idx}/level") as f:
                level = f.read().strip()
            with open(f"{base}/{idx}/type") as f:
                kind = f.read().strip()
            with open(f"{base}/{idx}/size") as f:
                size = f.read().strip()
            if kind != "Instruction":
                out[f"L{level}"] = size
    except OSError:
        pass
    return out


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_facts(sample_s: float = 0.5) -> dict[str, Any]:
    """nproc, cache sizes and the CPU steal share over a short idle sample."""
    a = _cpu_times()
    time.sleep(sample_s)
    b = _cpu_times()
    d = [y - x for x, y in zip(a, b)]
    steal = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0
    return {"nproc": nproc(), "cache": _cache_sizes(), "steal_share": round(steal, 4)}


class Ledger:
    """Counts operations and failures.  An operation fails if it raises or
    if its output fails its check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn: Callable[[], Any]) -> Any:
        """Run one operation; a raised exception is recorded as a failure
        and returned as ``None``."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # one failed operation must not end the run
            self.failed += 1
            print(f"[perfbench] operation {name} raised:", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] check {name} failed {detail}", file=sys.stderr)
        return ok


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def closed_loop(seconds: float, job: Callable[[], bool]) -> None:
    """Run ``job`` back to back until ``seconds`` have passed (at least
    once).  ``job`` returns False to stop early."""
    t_end = time.perf_counter() + seconds
    while job() and time.perf_counter() < t_end:
        pass


# --------------------------------------------------------------------- #
# process tree
# --------------------------------------------------------------------- #

def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks Python workers
    from threads other than its main one)."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants."""
    return sum(_vm_hwm_kb(p) for p in process_tree()) / 1024.0


def self_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def reap(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout_s``."""
    me = os.getpid()
    pids = [p for p in pids if p != me]
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in pids:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
        if state == "Z":
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            return True
    except OSError:
        return True
    return False


# --------------------------------------------------------------------- #
# result line
# --------------------------------------------------------------------- #

def result_line(ledger: Ledger, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )
