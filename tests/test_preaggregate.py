"""cqf_aggregate counts a raw stream in the JVM before the build, and no
step of a build runs a Spark job to plan itself.

- the pre-aggregated build is byte-identical to the raw per-partition
  build (``tree_merge(build_sketches(...))``) for string, int and float
  keys, with a packed value column and with a qbits hint;
- an empty (or all-null) input still gives the empty sketch;
- ``ensure_parallelism`` and ``tree_merge`` read partition counts off the
  physical plan, so every stage runs once, inside the final collect; the
  count is exact for scans, broadcast joins, caches and explicit
  repartitions;
- dsir and lm_quality build the same sketches as a hand-written
  ``groupBy(gram).count()`` feeding ``count_col``;
- the build sees one row per distinct key.
"""

import pytest
from pyspark.sql import functions as F

from cqf_spark.aggregator import (
    build_sketches,
    cqf_aggregate,
    ensure_parallelism,
    plan_partitions,
    tree_merge,
)
from cqf_spark.config import CqfConfig
from cqf_spark.core import Cqf
from cqf_spark.queries import (
    INT_CONFIG,
    KV_CONFIG,
    TOKEN_CONFIG,
    counted_keys,
    load,
)

# float keys are hashed as their int64 truncation, NaN as 0
FLOAT_CONFIG = CqfConfig(key_bits=40, seed=5)


def _frame(spark, rows, schema):
    # several partitions, each key spread over more than one of them
    return spark.createDataFrame(rows, schema).repartition(3)


CASES = {
    "string_nulls": (
        [(t,) for t in ["a", "b", None, "a", "c", "", None, "b", "a"] * 40],
        "k string", "k", TOKEN_CONFIG, {},
    ),
    "int": (
        [(i % 97,) for i in range(3000)] + [(None,)] * 5,
        "k long", "k", INT_CONFIG, {},
    ),
    "float": (
        [(v,) for v in [1.5, 1.7, float("nan"), -0.0, 0.0, 2.0, None] * 30],
        "k double", "k", FLOAT_CONFIG, {},
    ),
    "value_col_null_value": (
        [(i % 50, (i % 7) if i % 11 else None) for i in range(2000)],
        "k long, v int", "k", KV_CONFIG, {"value_col": "v"},
    ),
    "qbits_hint": (
        [(i % 300,) for i in range(5000)],
        "k long", "k", INT_CONFIG, {"qbits_hint": 12},
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_raw_stream_matches_per_partition_build(spark, case):
    rows, schema, key, config, kw = CASES[case]
    df = _frame(spark, rows, schema)
    got = cqf_aggregate(df, key, config, **kw)
    want = tree_merge(build_sketches(df, key, config, **kw))
    assert got.to_bytes() == want.to_bytes()
    assert got.nelts == sum(1 for r in rows if r[0] is not None)


@pytest.mark.parametrize(
    "schema,config",
    [("s string", TOKEN_CONFIG), ("k long", INT_CONFIG)],
    ids=["empty_strings", "all_null_longs"],
)
def test_empty_input_gives_the_empty_sketch(spark, schema, config):
    rows = [] if schema.startswith("s") else [(None,)] * 6
    df = spark.createDataFrame(rows, schema)
    sk = cqf_aggregate(df, df.columns[0], config)
    assert (sk.geom.qbits, sk.nelts, sk.ndistinct) == (6, 0, 0)
    assert sk.to_bytes() == Cqf.empty(config, config.qbits_for(0)).to_bytes()


def test_empty_input_keeps_the_qbits_hint(spark):
    df = spark.createDataFrame([(None,)] * 3, "k long")
    sk = cqf_aggregate(df, "k", INT_CONFIG, qbits_hint=9)
    want = tree_merge(build_sketches(df, "k", INT_CONFIG, qbits_hint=9))
    assert sk.to_bytes() == want.to_bytes()
    assert sk.geom.qbits == 9


def _grouped_tokens(spark, sf_dir):
    # an un-persisted groupBy over the one-split documents scan
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("__cnt"))


def test_ensure_parallelism_runs_nothing(spark, sf_dir, stage_tasks):
    n_cores = spark.sparkContext.defaultParallelism
    scan = load(spark, sf_dir, "documents").select("text")
    assert load(spark, sf_dir, "documents").rdd.getNumPartitions() < n_cores
    grouped = _grouped_tokens(spark, sf_dir)
    cached = load(spark, sf_dir, "events").cache()
    try:
        (a, b, c), tasks = stage_tasks(
            lambda: tuple(map(ensure_parallelism, (grouped, cached, scan)))
        )
        assert tasks == {}
        # exchange and cached inputs are left alone ...
        assert a is grouped
        assert b is cached
        # ... a bare scan with fewer splits than cores is spread out
        assert c.rdd.getNumPartitions() == n_cores
    finally:
        cached.unpersist()


def test_plan_partitions_reads_the_plan(spark, sf_dir, stage_tasks):
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey")
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # a cached relation of more partitions than a shuffle has, cold here
    cached = li.repartition(shuffle_n + 4).cache()
    frames = {
        "bare": li,
        "grouped": li.groupBy("l_partkey").count(),
        "wide": li.repartition(shuffle_n + 5),
        "broadcast": li.join(
            F.broadcast(sup), li.l_suppkey == sup.s_suppkey
        ),
        "union": li.union(li),
        "cached": cached.select("l_partkey"),
    }
    try:
        planned, tasks = stage_tasks(
            lambda: {k: plan_partitions(v) for k, v in frames.items()}
        )
        assert tasks == {}                     # nothing ran, not the cache
        n_scan = li.rdd.getNumPartitions()
        assert planned["bare"] == (n_scan, True, True)
        # AQE may coalesce a groupBy's shuffle: its count, not exact
        assert planned["grouped"] == (shuffle_n, False, False)
        # ... but leaves an explicit repartition alone
        assert planned["wide"] == (shuffle_n + 5, True, False)
        # a broadcast side is not a partition source
        assert planned["broadcast"] == (n_scan, True, True)
        assert planned["union"] == (2 * n_scan, True, True)
        assert planned["cached"] == (shuffle_n + 4, True, False)
        cached.count()                         # the same once it is built
        assert plan_partitions(cached) == (shuffle_n + 4, True, False)
        for k, df in frames.items():
            assert planned[k].n == df.rdd.getNumPartitions() or (
                not planned[k].exact
            ), k
    finally:
        cached.unpersist()


def _no_merge_rounds(monkeypatch):
    from pyspark.sql.group import GroupedData

    rounds = []
    real = GroupedData.applyInPandas

    def spy(self, *args, **kwargs):
        rounds.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(GroupedData, "applyInPandas", spy)
    return rounds


def test_tree_merge_counts_a_small_scan_exactly(spark, monkeypatch):
    # ensure_parallelism's own repartition(cores) is never coalesced, so
    # a small frame (a streaming micro-batch) merges in a single collect
    # even when the session's shuffle partition count exceeds fan_in
    df = spark.createDataFrame(
        [(i % 13,) for i in range(500)], "k long"
    ).coalesce(1)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        rounds = _no_merge_rounds(monkeypatch)
        parts = build_sketches(df, "k", INT_CONFIG)
        assert plan_partitions(parts) == (
            spark.sparkContext.defaultParallelism, True, False
        )
        sk = tree_merge(parts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        monkeypatch.undo()
    assert rounds == []
    assert sk.nelts == 500


def test_tree_merge_rounds_over_a_wide_cache(spark, monkeypatch):
    # a cached input of more partitions than the shuffle partition count
    # still gets the executor rounds its blob count calls for
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cached = (
        spark.range(0, 4000, 1, 2 * shuffle_n)
        .select((F.col("id") % 211).alias("k"))
        .cache()
    )
    try:
        want = tree_merge(build_sketches(cached, "k", INT_CONFIG))
        rounds = _no_merge_rounds(monkeypatch)
        got = tree_merge(
            build_sketches(cached, "k", INT_CONFIG), fan_in=shuffle_n + 1
        )
        monkeypatch.undo()
    finally:
        cached.unpersist()
    assert rounds == [1]
    assert got.to_bytes() == want.to_bytes()


def _jobs_at_collect(spark, monkeypatch):
    """Spy on DataFrame.collect: each call appends the jobs its job group
    had already started when the collect began."""
    from pyspark.sql import DataFrame

    sc = spark.sparkContext
    cls = type(spark.range(1))
    assert issubclass(cls, DataFrame)
    collect = cls.collect
    seen = []

    def spy(self):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.getLocalProperty("spark.jobGroup.id")
        seen.append(list(sc.statusTracker().getJobIdsForGroup(group)))
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    return seen


def test_tree_merge_runs_each_stage_once(
    spark, sf_dir, stage_tasks, monkeypatch
):
    grouped = _grouped_tokens(spark, sf_dir)
    args = (grouped, "token", TOKEN_CONFIG, "__cnt")
    _, plain = stage_tasks(
        lambda: build_sketches(*args).select("sketch").collect()
    )
    seen = _jobs_at_collect(spark, monkeypatch)
    sk, merged = stage_tasks(lambda: tree_merge(build_sketches(*args)))
    monkeypatch.undo()
    # nothing ran before the collect, and the collect's stages complete
    # the same tasks as one plain collect: no stage ran twice
    assert seen == [[]]
    assert sorted(merged.values()) == sorted(plain.values())
    assert sum(merged.values()) > 0
    assert sk.nelts > 0


def test_counted_keys_build_runs_no_job_before_collect(
    spark, sf_dir, stage_tasks, monkeypatch
):
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    counted = counted_keys(toks, "token")
    seen = _jobs_at_collect(spark, monkeypatch)
    try:
        sk, tasks = stage_tasks(
            lambda: cqf_aggregate(counted, "token", TOKEN_CONFIG,
                                  count_col="__cnt")
        )
    finally:
        monkeypatch.undo()
        counted.unpersist()
    assert seen == [[]]
    assert sum(tasks.values()) > 0
    assert sk.nelts == toks.count()


def _spy_sketches(monkeypatch, module):
    built = []
    real = module.cqf_aggregate

    def spy(*args, **kwargs):
        sk = real(*args, **kwargs)
        built.append(sk.to_bytes())
        return sk

    monkeypatch.setattr(module, "cqf_aggregate", spy)
    return built


def _counted_grams(df, n, text_col="text"):
    from cqf_spark.operators.decontam import ngrams_expr

    return (
        df.select(F.explode(ngrams_expr(n, text_col)).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def test_dsir_sketches_match_hand_counted_grams(spark, sf_dir, monkeypatch):
    from cqf_spark.operators import dsir

    docs = load(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "text")
    target = docs.where("lang = 'en'").select("doc_id", "text")
    config = CqfConfig(key_bits=48, seed=37)
    built = _spy_sketches(monkeypatch, dsir)
    dsir.dsir_log_weights(raw, target, n=2, config=config)
    want = [
        cqf_aggregate(_counted_grams(side, 2), "_g", config, count_col="__cnt")
        .to_bytes()
        for side in (target, raw)
    ]
    assert built == want


def test_lm_quality_sketch_matches_hand_counted_grams(
    spark, sf_dir, monkeypatch
):
    from cqf_spark.operators import lm_quality

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 3 == 0)
    config = CqfConfig(key_bits=48, seed=31)
    built = _spy_sketches(monkeypatch, lm_quality)
    lm_quality.ngram_lm_scores(docs, ref, n=2, config=config)
    want = cqf_aggregate(_counted_grams(ref, 2), "_g", config,
                         count_col="__cnt").to_bytes()
    assert built == [want]
    assert Cqf.from_bytes(want).nelts > 0


def test_build_sees_one_row_per_distinct_key(spark, monkeypatch):
    import cqf_spark.aggregator as agg

    parts = []
    real = agg.build_sketches

    def spy(*args, **kwargs):
        parts.append(real(*args, **kwargs))
        return parts[-1]

    monkeypatch.setattr(agg, "build_sketches", spy)
    rows, schema, key, config, kw = CASES["int"]
    agg.cqf_aggregate(_frame(spark, rows, schema), key, config)
    monkeypatch.undo()
    (n_rows,) = parts[0].agg(F.sum("n_rows")).first()
    assert n_rows == 97
