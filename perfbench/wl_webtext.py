"""``webtext_tokens``: the north-star token stream on the distributed path.

sf0.1 ``documents.text`` is replicated, put in a seeded row order and
cached in setup, then exploded to one row per token.  One job aggregates
the raw stream with ``cqf_aggregate(df, "token", TOKEN_CONFIG)`` and then
probes every token through ``count_udf``, consuming the sum of counts.
"""

from __future__ import annotations

import os
import time

import harness
import sparkenv
import tracing

COPIES = 8


def token_frames(spark, sf_dir: str, copies: int, seed: int):
    """(cached replicated documents, exploded token stream)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("text")
    big = (
        spark.range(copies)
        .crossJoin(docs)
        .select("text")
        .orderBy(F.rand(seed))  # seeded row order across nproc partitions
        .cache()
    )
    big.count()
    toks = big.select(F.explode(F.split("text", " ")).alias("token"))
    return big, toks


class Webtext:
    def __init__(self, spark, toks, ledger: harness.Ledger) -> None:
        self.spark = spark
        self.toks = toks
        self.ledger = ledger
        self.jobs: list[dict[str, float]] = []

    def oracle(self) -> None:
        """Token multiplicities n_t from a JVM groupBy."""
        rows = self.toks.groupBy("token").count().collect()
        n = [int(r["count"]) for r in rows]
        self.n_tokens = sum(n)
        self.n_distinct = len(n)
        self.sum_sq = sum(x * x for x in n)

    def probe(self, sketch):
        from pyspark.sql import functions as F

        from cqf_spark.aggregator import count_udf

        c = count_udf(self.spark, sketch)("token").alias("c")
        return self.toks.select(c).agg(
            F.sum("c").alias("s"), F.min("c").alias("m"), F.count("c").alias("n")
        ).collect()[0]

    def check_probe(self, r) -> None:
        L = self.ledger
        L.check("probe_rows", int(r["n"]) == self.n_tokens)
        L.check("no_zero_probe", int(r["m"]) >= 1)
        L.check("probe_sum_sq", int(r["s"]) == self.sum_sq, f"{r['s']} != {self.sum_sq}")

    def check_sketch(self, sk) -> None:
        self.ledger.check("sketch_nelts", sk.nelts == self.n_tokens)
        self.ledger.check("sketch_ndistinct", sk.ndistinct == self.n_distinct)

    def job(self) -> bool:
        from cqf_spark.aggregator import cqf_aggregate
        from cqf_spark.queries import TOKEN_CONFIG

        L = self.ledger
        t0 = time.perf_counter()
        sk = L.run("cqf_aggregate", lambda: cqf_aggregate(self.toks, "token", TOKEN_CONFIG))
        t1 = time.perf_counter()
        if sk is None:
            return False
        r = L.run("count_udf", lambda: self.probe(sk))
        t2 = time.perf_counter()
        if r is None:
            return False
        self.check_sketch(sk)
        self.check_probe(r)
        self.jobs.append({
            "job_s": t2 - t0,
            "insert_mops": self.n_tokens / (t1 - t0) / 1e6,
            "lookup_mops": self.n_tokens / (t2 - t1) / 1e6,
        })
        return True


def run(args, ledger: harness.Ledger, setup_clock) -> dict[str, float]:
    from cqf_spark.aggregator import ensure_shipped

    sf = os.path.join(harness.DATA, "sf0.001" if args.toy else "sf0.1")
    copies = 2 if args.toy else COPIES
    spark = sparkenv.start("perfbench-webtext_tokens")
    try:
        ensure_shipped(spark)
        big, toks = token_frames(spark, sf, copies, args.seed)
        wt = Webtext(spark, toks, ledger)
        t0 = time.perf_counter()
        wt.oracle()
        oracle_s = time.perf_counter() - t0
        # one untimed job warms the build and probe path
        if not wt.job():
            raise RuntimeError("webtext warm-up job failed")
        wt.jobs.clear()
        setup_s = setup_clock() - oracle_s  # the oracle is not set-up

        if args.trace:
            out = traced(spark, wt, f"webtext_tokens-{args.seed}")
        else:
            harness.closed_loop(args.seconds, wt.job)
            if not wt.jobs:
                raise RuntimeError("no webtext job completed")
            out = {
                "setup_s": setup_s,
                "peak_rss_mb": harness.tree_peak_rss_mb(),
                "job_s": harness.median([j["job_s"] for j in wt.jobs]),
            }
        big.unpersist()
        return out
    finally:
        sparkenv.stop(spark)


def traced(spark, wt: Webtext, run_id: str) -> dict[str, float]:
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    import cqf_spark.aggregator as agg
    from cqf_spark.core import Cqf
    from cqf_spark.functions.hashing import murmur64a_arrow
    from cqf_spark.queries import TOKEN_CONFIG

    if not wt.job():
        raise RuntimeError("untraced webtext job failed")
    base = wt.jobs[-1]
    L = wt.ledger
    tr = tracing.Tracer()
    tr.run_id = run_id
    jw = sparkenv.JobWindow(spark)
    phases = {}
    tracing.patch_library(tr)
    try:
        with tr.span("job"):
            with tr.span("aggregator.build_sketches"):
                parts = agg.build_sketches(wt.toks, "token", TOKEN_CONFIG).persist()
                lineage = parts.select(
                    "n_rows", "build_s", F.length("sketch").alias("nbytes")
                ).collect()
            phases["build"] = jw.mark()
            sk = agg.tree_merge(parts)
            phases["merge"] = jw.mark()
            with tr.span("aggregator.count_udf"):
                r = wt.probe(sk)
            phases["probe"] = jw.mark()
    finally:
        tr.unpatch()
        tr.dump(os.path.join(harness.WORK, f"trace-{run_id}.jsonl"))
    parts.unpersist()
    wt.check_sketch(sk)
    wt.check_probe(r)
    L.check("lineage_rows_in", sum(int(x["n_rows"]) for x in lineage) == wt.n_tokens)

    # untraced jobs before and after the traced one bracket it
    if not wt.job():
        raise RuntimeError("untraced webtext job failed")
    untraced = harness.median([base["job_s"], wt.jobs[-1]["job_s"]])
    root = next(s for s in tr.spans if s.name == "job")
    out = tracing.ledger(tr.spans, root)
    out["trace.untraced_job_s"] = untraced
    out["trace.overhead_share"] = out["trace.job_s"] / untraced - 1.0
    out["job.insert_mops"] = base["insert_mops"]
    out["job.lookup_mops"] = base["lookup_mops"]
    for name in ("aggregator.build_sketches", "aggregator.tree_merge",
                 "aggregator.count_udf", "counter.encode_counters",
                 "bitpack.pack_slots", "core.to_bytes", "bitpack.unpack_slots",
                 "core.from_bytes", "core.merge_many"):
        out[f"{name}_s"] = tracing.total_s(tr.spans, root, name)
    build_s = [float(x["build_s"]) for x in lineage]
    out["aggregator.build_sketches.task_build_s_max"] = max(build_s)
    out["aggregator.build_sketches.task_build_s_mean"] = sum(build_s) / len(build_s)
    out["aggregator.build_sketches.rows_in"] = sum(int(x["n_rows"]) for x in lineage)
    out["aggregator.build_sketches.partials"] = len(lineage)
    out["aggregator.build_sketches.blob_bytes"] = sum(int(x["nbytes"]) for x in lineage)
    blob = sk.to_bytes()
    out["aggregator.broadcast_bytes"] = len(blob)
    for phase, st in phases.items():
        for k, v in st.items():
            out[f"spark.{phase}.{k}"] = v
            out[f"spark.{k}"] = out.get(f"spark.{k}", 0) + v

    # layer probes, outside the traced job
    t0 = time.perf_counter()
    wt.toks.write.format("noop").mode("overwrite").save()
    out["spark.token_stream_noop_s"] = time.perf_counter() - t0
    one = wt.toks.where(F.spark_partition_id() == 0).toArrow()
    arr = pa.concat_arrays(one.column("token").chunks)
    n = len(arr)
    mask = np.uint64((1 << TOKEN_CONFIG.key_bits) - 1)
    from wl_kernel import best_of, decode_s

    out["hashing.murmur64a_arrow_mops"] = n / best_of(
        3, lambda: murmur64a_arrow(arr, TOKEN_CONFIG.seed)) / 1e6
    h = murmur64a_arrow(arr, TOKEN_CONFIG.seed) & mask
    out["core.from_hashes_mops.tokens"] = n / best_of(
        3, lambda: Cqf.from_hashes(TOKEN_CONFIG, h)) / 1e6
    out["core.count_hashes_mops.tokens"] = n / best_of(3, lambda: sk.count_hashes(h)) / 1e6
    out["core.decode_s"] = decode_s(blob, h[:1])
    return out
