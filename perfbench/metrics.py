"""The benchmark's metric catalogue: name -> unit.

Every workload prints every metric of the list its mode asks for
(``END_TO_END`` untraced, ``PER_LAYER`` traced).  A per-layer metric of
a layer the workload does not exercise reads 0.
"""

HEADLINE = [
    "curate_training_corpus",
    "webtext_bigram_multiplicity",
    "cqf_token_multiplicity",
    "cqf_multiplicity_partkey",
    "cqf_membership_custkey",
    "cqf_merge_union_counts",
    "cqf_set_algebra_events",
    "cqf_heavy_hitters_tokens",
]

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "job_s": "s",
}

LOADS = (25, 50, 75, 95)

PER_LAYER: dict[str, str] = {
    # phase rates of the untraced job, in bm.c units
    "job.insert_mops": "Mkeys/s",
    "job.lookup_mops": "Mprobes/s",
    "job.false_lookup_mops": "Mprobes/s",
    "job.merge_mops": "Mkeys/s",
    "job.fp_rate": "ratio",
    "job.bits_per_key": "bits",
    # trace accounting
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_share": "ratio",
    "trace.accounted_share": "ratio",
    **{f"layer.{k}.self_s": "s" for k in (
        "aggregator", "core_build", "counter", "hashing", "merge",
        "probe", "queries", "spark", "wire",
    )},
    # Spark engine
    "spark.token_stream_noop_s": "s",
    **{f"spark.{k}": "count" for k in ("jobs", "stages", "tasks", "failed_tasks")},
    **{
        f"spark.{phase}.{k}": "count"
        for phase in ("build", "merge", "probe")
        for k in ("jobs", "stages", "tasks", "failed_tasks")
    },
    # aggregator
    "aggregator.build_sketches_s": "s",
    "aggregator.build_sketches.task_build_s_max": "s",
    "aggregator.build_sketches.task_build_s_mean": "s",
    "aggregator.build_sketches.rows_in": "count",
    "aggregator.build_sketches.partials": "count",
    "aggregator.build_sketches.blob_bytes": "bytes",
    "aggregator.tree_merge_s": "s",
    "aggregator.count_udf_s": "s",
    "aggregator.broadcast_bytes": "bytes",
    # hashing
    "hashing.murmur64a_arrow_mops": "Mkeys/s",
    "core.hash_keys_mops": "Mkeys/s",
    # core build and counter encoding
    **{f"core.from_hashes_mops.load{p}": "Mkeys/s" for p in LOADS},
    "core.from_hashes_mops.tokens": "Mkeys/s",
    "counter.encode_counters_s": "s",
    # wire
    "bitpack.pack_slots_s": "s",
    "core.to_bytes_s": "s",
    "bitpack.unpack_slots_s": "s",
    "core.from_bytes_s": "s",
    "core.decode_s": "s",
    # probe
    **{f"core.count_hashes_mops.load{p}": "Mprobes/s" for p in LOADS},
    **{f"core.count_hashes_miss_mops.load{p}": "Mprobes/s" for p in LOADS},
    "core.count_hashes_mops.tokens": "Mprobes/s",
    # merge
    "core.merge_many_s": "s",
    # queries / operators
    **{f"queries.{q}_s": "s" for q in HEADLINE},
    **{f"queries.{q}.stages": "count" for q in HEADLINE},
    "queries.cached_frames_left": "count",
    "queries.warm_suite_s": "s",
}
