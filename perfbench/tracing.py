"""In-memory span tracer for the traced benchmark run.

Spans are recorded around calls into the library's public functions from
the benchmark's own code: either an explicit ``with tracer.span(name)``
block, or a temporary wrapper that :meth:`Tracer.patch` installs on a
module or class attribute for the length of the traced pass.  Nothing in
``cqf_spark`` is edited.  Wrappers are installed in the benchmark process
only; Spark executors import the package afresh and run unwrapped code.

A span is ``(id, name, start, end, parent, run)``.  ``run`` is shared by
every span of one pass.  Spans are kept in memory and written out once,
when the benchmark ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable, Iterator

# span name prefix -> layer (longest prefix wins); names with no match are
# attributed to the root span of their pass
LAYERS: dict[str, str] = {
    "spark.": "spark",
    "aggregator.": "aggregator",
    "hashing.": "hashing",
    "core.hash_keys": "hashing",
    "core.from_keys": "core_build",
    "core.from_hashes": "core_build",
    "counter.encode_counters": "counter",
    "counter.decode_runs": "wire",
    "bitpack.": "wire",
    "core.to_bytes": "wire",
    "core.from_bytes": "wire",
    "core.count": "probe",
    "core.merge_many": "merge",
    "queries.": "queries",
}
LAYER_NAMES = sorted(set(LAYERS.values()))


def layer_of(name: str) -> str | None:
    best = None
    for prefix, layer in LAYERS.items():
        if name.startswith(prefix) and (best is None or len(prefix) > len(best[0])):
            best = (prefix, layer)
    return best[1] if best else None


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Collects spans; one instance per traced run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = ""
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        stack = self._stack()
        # a worker thread's first span hangs under the main thread's
        # innermost open span (the call that started the thread pool)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: Any, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` in a span called ``name`` until :meth:`unpatch`.

        Class methods and plain functions are handled; the original object
        is restored exactly."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new: Any = classmethod(self.wrap(name, raw.__func__))
        else:
            new = self.wrap(name, raw)
        self._undo.append((owner, attr, raw))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def patch_library(tracer: Tracer) -> None:
    """Install span wrappers on the library's public entry points."""
    import cqf_spark.aggregator as agg
    import cqf_spark.core as core
    from cqf_spark.functions import bitpack

    for name in ("from_keys", "from_hashes", "count", "count_hashes",
                 "merge_many", "to_bytes", "from_bytes"):
        tracer.patch(core.Cqf, name, f"core.{name}")
    # module-level names core.py resolves at call time
    tracer.patch(core, "hash_keys", "core.hash_keys")
    tracer.patch(core, "encode_counters", "counter.encode_counters")
    tracer.patch(core, "decode_runs", "counter.decode_runs")
    tracer.patch(bitpack, "pack_slots", "bitpack.pack_slots")
    tracer.patch(bitpack, "unpack_slots", "bitpack.unpack_slots")
    # aggregator entry points, rebound in every module that imported them
    for fname in ("cqf_aggregate", "build_sketches", "tree_merge",
                  "count_udf", "contains_udf"):
        orig = getattr(agg, fname)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if modname.startswith("cqf_spark") and getattr(mod, fname, None) is orig:
                tracer.patch(mod, fname, f"aggregator.{fname}")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children's union covers."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _covered(
            [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])]
        )
        for s in spans
    }


def subtree(spans: list[Span], root: Span) -> list[Span]:
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(by_parent.get(s.id, []))
    return out


def ledger(spans: list[Span], root: Span, exclude: str = "") -> dict[str, float]:
    """Per-layer self time under ``root``, the root's own (unattributed)
    self time, and the share of the root's wall the layers account for.

    Spans named with the ``exclude`` prefix, and everything under them, are
    left out of the ledger and their wall out of the root's."""
    tree = subtree(spans, root)
    st = self_times(tree)
    skipped: set[int] = set()
    excluded_s = 0.0
    if exclude:
        for s in tree:
            if s.parent == root.id and s.name.startswith(exclude):
                excluded_s += s.end - s.start
                skipped.update(x.id for x in subtree(tree, s))
    by_layer = {layer: 0.0 for layer in LAYER_NAMES}
    unattributed = 0.0
    for s in tree:
        if s.id in skipped:
            continue
        layer = None if s is root else layer_of(s.name)
        if layer is None:
            unattributed += st[s.id]
        else:
            by_layer[layer] += st[s.id]
    wall = root.end - root.start - excluded_s
    out = {f"layer.{k}.self_s": v for k, v in by_layer.items()}
    out["trace.job_s"] = wall
    out["trace.accounted_share"] = 1.0 - unattributed / wall if wall > 0 else 0.0
    return out


def total_s(spans: list[Span], root: Span, name: str) -> float:
    """Summed wall of the outermost spans called ``name`` under ``root``
    (a span nested in a same-named span is not counted twice)."""
    tree = subtree(spans, root)
    by_id = {s.id: s for s in tree}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent) if p.parent is not None else None
        return False

    return sum(s.end - s.start for s in tree if s.name == name and not nested(s))
