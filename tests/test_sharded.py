"""Hash-range-sharded distributed CQF: equivalence with the single-sketch
build, distributed merge, broadcast + join probing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cqf_spark.aggregator import cqf_aggregate
from cqf_spark.config import CqfConfig, HashMode
from cqf_spark.sharded import ShardedCqf, build_sharded

CFG = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=7)


def _li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_sharded_matches_single_sketch(spark, sf_dir):
    df = _li(spark, sf_dir)
    sharded = ShardedCqf.aggregate(df, "l_partkey", CFG, n_shards=16)
    single = cqf_aggregate(df, "l_partkey", CFG)
    assert sharded.sum_of_counts() == single.sum_of_counts
    assert sharded.num_distinct() == single.num_distinct
    # decoded multiset identical
    items = (
        sharded.items_df().orderBy("hash").select("hash", "count").collect()
    )
    kh, _v, counts = single.items()
    assert [r["hash"] for r in items] == kh.astype(np.int64).tolist()
    assert [r["count"] for r in items] == counts.astype(np.int64).tolist()


def test_sharded_count_udf(spark, sf_dir):
    df = _li(spark, sf_dir)
    sharded = ShardedCqf.aggregate(df, "l_partkey", CFG, n_shards=16)
    probes = df.select("l_partkey").distinct()
    got = probes.select(
        "l_partkey", sharded.count_udf(spark)("l_partkey").alias("c")
    )
    want = df.groupBy("l_partkey").agg(F.count("*").alias("c"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_sharded_count_join(spark, sf_dir):
    df = _li(spark, sf_dir)
    sharded = ShardedCqf.aggregate(df, "l_partkey", CFG, n_shards=8)
    probes = df.select("l_partkey").distinct()
    got = sharded.count_join(probes, "l_partkey").select(
        "l_partkey", F.col("approx_count").alias("c")
    )
    want = df.groupBy("l_partkey").agg(F.count("*").alias("c"))
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_sharded_merge(spark, sf_dir):
    df = _li(spark, sf_dir)
    lo = df.where(F.col("l_linenumber") <= 3)
    hi = df.where(F.col("l_linenumber") > 3)
    a = ShardedCqf.aggregate(lo, "l_suppkey", CFG, n_shards=8)
    b = ShardedCqf.aggregate(hi, "l_suppkey", CFG, n_shards=8)
    m = a.merge(b)
    assert m.sum_of_counts() == df.count()
    whole = ShardedCqf.aggregate(df, "l_suppkey", CFG, n_shards=8)
    mi = m.items_df().orderBy("hash").collect()
    wi = whole.items_df().orderBy("hash").collect()
    assert [(r["hash"], r["count"]) for r in mi] == [
        (r["hash"], r["count"]) for r in wi
    ]


def test_sharded_config_guard(spark, sf_dir):
    df = _li(spark, sf_dir)
    a = ShardedCqf.aggregate(df, "l_suppkey", CFG, n_shards=8)
    other = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=8)
    b = ShardedCqf.aggregate(df, "l_suppkey", other, n_shards=8)
    with pytest.raises(ValueError):
        a.merge(b)
    with pytest.raises(ValueError):
        build_sharded(df, "l_suppkey", CFG, n_shards=12)  # not a power of two

def test_sharded_save_load(spark, sf_dir, tmp_path):
    from cqf_spark.sharded import load_sharded, save_sharded

    df = _li(spark, sf_dir)
    sk = ShardedCqf.aggregate(df, "l_partkey", CFG, n_shards=8)
    save_sharded(sk, str(tmp_path / "sk"))
    back = load_sharded(spark, str(tmp_path / "sk"))
    assert back.config == sk.config and back.n_shards == 8
    assert back.sum_of_counts() == sk.sum_of_counts()
    assert back.num_distinct() == sk.num_distinct()
    a = {r["shard"]: bytes(r["sketch"]) for r in sk.df.collect()}
    b = {r["shard"]: bytes(r["sketch"]) for r in back.df.collect()}
    assert a == b


def test_sharded_set_algebra_matches_single_sketch(spark, sf_dir):
    """Per-shard inner product / intersect over disjoint hash ranges must
    equal the single-sketch qf_inner_product / qf_intersect results."""
    df = _li(spark, sf_dir)
    lo = df.where(F.col("l_linenumber") <= 3)
    hi = df.where(F.col("l_linenumber") >= 2)
    sa = ShardedCqf.aggregate(lo, "l_suppkey", CFG, n_shards=16)
    sb = ShardedCqf.aggregate(hi, "l_suppkey", CFG, n_shards=16)
    a = cqf_aggregate(lo, "l_suppkey", CFG)
    b = cqf_aggregate(hi, "l_suppkey", CFG)
    assert sa.inner_product(sb) == a.inner_product(b)
    inter_sharded = sa.intersect(sb)
    inter_single = a.intersect(b)
    assert inter_sharded.num_distinct() == inter_single.num_distinct
    # decoded common-hash set identical (counts aside: per-shard larger-
    # filter tie-breaks may differ from the global one, the hash set not)
    got = sorted(
        r["hash"] for r in inter_sharded.items_df().select("hash").collect()
    )
    kh, _v, _c = inter_single.items()
    assert got == kh.astype(np.int64).tolist()


def test_sharded_set_algebra_config_guard(spark, sf_dir):
    df = _li(spark, sf_dir)
    sa = ShardedCqf.aggregate(df, "l_suppkey", CFG, n_shards=16)
    sb = ShardedCqf.aggregate(df, "l_suppkey", CFG, n_shards=8)
    with pytest.raises(ValueError):
        sa.inner_product(sb)
    with pytest.raises(ValueError):
        sa.intersect(sb)


def test_sharded_magnitude_matches_single_sketch(spark, sf_dir):
    df = _li(spark, sf_dir)
    sharded = ShardedCqf.aggregate(df, "l_suppkey", CFG, n_shards=16)
    single = cqf_aggregate(df, "l_suppkey", CFG)
    assert sharded.magnitude() == single.magnitude()


def test_sharded_count_udf_big_long_next_to_null(spark):
    """A long key float64 cannot hold, probed in a batch that also holds a
    null, finds what the sharded build stored; the null reads 0."""
    big = 2**60 + 1
    cfg = CqfConfig(key_bits=48, hash_mode=HashMode.DEFAULT, seed=7)
    rows = spark.createDataFrame([(big,), (None,), (7,)], "k long").repartition(1)
    sharded = ShardedCqf.aggregate(rows, "k", cfg, n_shards=4)
    try:
        got = {
            r.k: r.c
            for r in rows.select("k", sharded.count_udf(spark)("k").alias("c"))
            .collect()
        }
    finally:
        sharded.df.unpersist()
    assert got[big] >= 1 and got[7] >= 1
    assert got[None] == 0


def test_sharded_count_join_long_keys_beside_nulls(spark):
    """A null in a probe batch must not turn the long key column into
    float64: keys above 2^53 keep their low bits, hash to their own
    shard, and the null probe reads 0."""
    from cqf_spark.queries import INT_CONFIG

    big = 2**60 + 1
    build = spark.createDataFrame([(big,), (7,), (big,)], "k long")
    sk = ShardedCqf.aggregate(build, "k", INT_CONFIG, n_shards=4)
    try:
        probes = spark.createDataFrame([(big,), (None,), (7,)], "k long")
        got = {tuple(r) for r in sk.count_join(probes, "k").collect()}
        assert got == {(big, 2), (7, 1), (None, 0)}
    finally:
        sk.df.unpersist()
