"""``headline_queries``: the eight ``bench.py`` headline queries, taken from
``__spark_entry__.queries()`` at sf0.1.

One job is one cold pass: Spark's data cache is cleared before each query,
every output column is collected through Arrow, and each result is
compared with its DuckDB oracle digest.  Executors are warmed in setup by
running the queries over the sf0.001 copy of the same tables.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import harness
import oracle
import sparkenv
import tracing
from metrics import HEADLINE


class Suite:
    def __init__(self, spark, sf_dir: str, ledger: harness.Ledger) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = sf_dir
        self.ledger = ledger
        registry = entry.queries()
        self.fns = {n: registry[n] for n in HEADLINE}
        self.want: dict[str, dict] = {}
        self.passes: list[float] = []
        self.frames_left: dict[str, int] = {}

    def one(self, name: str, cold: bool = True, span=None) -> float | None:
        """Run one query (inside ``span``, if given); returns its wall, or
        None if it raised."""
        spark, L = self.spark, self.ledger
        if cold:
            spark.catalog.clearCache()
        before = sparkenv.persistent_rdds(spark)
        with span or nullcontext():
            t0 = time.perf_counter()
            pdf = L.run(name, lambda: self.fns[name](spark, self.sf_dir).toPandas())
            wall = time.perf_counter() - t0
        if pdf is None:
            return None
        left = sparkenv.persistent_rdds(spark) - before
        if self.want:
            got = oracle.digest(pdf)
            L.check(f"oracle:{name}", got == self.want[name], f"{got} != {self.want[name]}")
        self.frames_left[name] = left
        return wall

    def cold_pass(self) -> bool:
        total = 0.0
        for name in HEADLINE:
            wall = self.one(name)
            if wall is None:
                return False
            total += wall
        self.passes.append(total)
        return True


def warm_up(spark) -> None:
    """Run the eight queries over the sf0.001 copy, ``nproc`` at a time: this
    forks and warms every worker and compiles the plans' generated code.
    The results are not used; a failure here is reported and skipped."""
    warm = Suite(spark, os.path.join(harness.DATA, "sf0.001"), harness.Ledger())

    def one(name: str) -> None:
        try:
            warm.fns[name](spark, warm.sf_dir).toPandas()
        except Exception as e:  # the timed pass will show it if it persists
            print(f"[perfbench] warm-up {name} raised {e!r}", file=sys.stderr)

    with ThreadPoolExecutor(harness.nproc()) as pool:
        for f in [pool.submit(one, n) for n in HEADLINE]:
            f.result()
    spark.catalog.clearCache()


def run(args, ledger: harness.Ledger, setup_clock) -> dict[str, float]:
    from cqf_spark.aggregator import ensure_shipped

    sf = os.path.join(harness.DATA, "sf0.001" if args.toy else "sf0.1")
    spark = sparkenv.start("perfbench-headline_queries")
    try:
        ensure_shipped(spark)
        warm_up(spark)
        setup_s = setup_clock()

        suite = Suite(spark, sf, ledger)
        suite.want = oracle.oracle_digests(sf, HEADLINE)  # not part of setup_s
        if args.trace:
            out = traced(spark, suite, f"headline_queries-{args.seed}")
        else:
            harness.closed_loop(args.seconds, suite.cold_pass)
            if not suite.passes:
                raise RuntimeError("no headline pass completed")
            out = {
                "setup_s": setup_s,
                "peak_rss_mb": harness.tree_peak_rss_mb(),
                "job_s": harness.median(suite.passes),
            }
        spark.catalog.clearCache()
        return out
    finally:
        sparkenv.stop(spark)


def traced(spark, suite: Suite, run_id: str) -> dict[str, float]:
    if not suite.cold_pass():
        raise RuntimeError("untraced headline pass failed")
    untraced = suite.passes[-1]
    tr = tracing.Tracer()
    tr.run_id = run_id
    jw = sparkenv.JobWindow(spark)
    out: dict[str, float] = {}
    frames_left = 0
    warm = 0.0
    tracing.patch_library(tr)
    try:
        with tr.span("job"):
            for name in HEADLINE:
                spark.catalog.clearCache()
                jw.mark()
                suite.one(name, cold=False, span=tr.span(f"queries.{name}"))
                st = jw.mark()
                out[f"queries.{name}.stages"] = st["stages"]
                for k, v in st.items():
                    out[f"spark.{k}"] = out.get(f"spark.{k}", 0) + v
                frames_left += suite.frames_left.get(name, 0)
                # the same query again without clearing the cache; left
                # out of the ledger
                with tr.span(f"warm.{name}"):
                    warm += suite.one(name, cold=False) or 0.0
    finally:
        tr.unpatch()
        tr.dump(os.path.join(harness.WORK, f"trace-{run_id}.jsonl"))
    root = next(s for s in tr.spans if s.name == "job")
    out.update(tracing.ledger(tr.spans, root, exclude="warm."))
    # the root's own time is clearCache, result checks and job-window
    # bookkeeping between the queries
    for name in HEADLINE:
        out[f"queries.{name}_s"] = tracing.total_s(tr.spans, root, f"queries.{name}")
    for name in ("aggregator.build_sketches", "aggregator.tree_merge",
                 "aggregator.count_udf", "counter.encode_counters", "bitpack.pack_slots", "core.to_bytes",
                 "bitpack.unpack_slots", "core.from_bytes", "core.merge_many"):
        out[f"{name}_s"] = sum(
            tracing.total_s(tr.spans, s, name) for s in tr.spans
            if s.parent == root.id and s.name.startswith("queries.")
        )
    out["queries.cached_frames_left"] = frames_left
    out["queries.warm_suite_s"] = warm
    out["trace.untraced_job_s"] = untraced
    out["trace.overhead_share"] = sum(out[f"queries.{n}_s"] for n in HEADLINE) / untraced - 1.0
    return out
