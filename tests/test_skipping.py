"""Sketch-backed data skipping (sources/skipping.py).

The contract under test: ``read_pruned`` equals the full-scan filter for
every index state (fresh / stale / partially covering), pruning actually
skips files, per-file counts never undercount, and the merged dataset
sketch matches a directly-built one.
"""

import os

import pytest
from pyspark.sql import functions as F

from cqf_spark.config import CqfConfig
from cqf_spark.sources.skipping import (
    build_index,
    key_counts_by_file,
    merged_index_sketch,
    prune_files,
    read_pruned,
    update_index,
)

CFG = CqfConfig(key_bits=40, seed=7)


@pytest.fixture(scope="module")
def dataset(spark, sf_dir, tmp_path_factory):
    """lineitem keys spread over 8 files plus a 9th 'late' file whose
    keys live in a disjoint range — appended AFTER the index build."""
    root = tmp_path_factory.mktemp("skip")
    data = str(root / "data")
    idx = str(root / "index")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # range-partition by l_partkey so single-key probes hit few files
    li.repartitionByRange(8, "l_partkey").write.parquet(data)
    n = build_index(spark, data, "l_partkey", idx, CFG)
    assert n == 8
    late = spark.createDataFrame(
        [(10**9 + i, 10**9 + i, float(i)) for i in range(20)],
        "l_orderkey long, l_partkey long, l_quantity double",
    )
    late.coalesce(1).write.mode("append").parquet(data)
    full = spark.read.parquet(data)
    return {"data": data, "idx": idx, "full": full, "spark": spark}


def _expected(full, keys):
    return sorted(
        tuple(r)
        for r in full.where(F.col("l_partkey").isin(keys)).collect()
    )


def test_pruned_read_exact_and_skips_files(dataset):
    spark, full = dataset["spark"], dataset["full"]
    some = [r[0] for r in full.select("l_partkey").limit(3).collect()]
    got = read_pruned(spark, dataset["data"], dataset["idx"], some)
    assert sorted(tuple(r) for r in got.collect()) == _expected(full, some)
    plan = prune_files(spark, dataset["idx"], some, data_path=dataset["data"])
    # range-partitioned: 3 keys live in few files; most must be skipped
    assert len(plan["skipped"]) >= 4
    assert len(plan["unindexed"]) == 1  # the late file, always read
    assert set(plan["read"]) & set(plan["skipped"]) == set()
    # the frame really only opens the planned files
    opened = {f[7:] if f.startswith("file://") else f for f in got.inputFiles()}
    assert opened == set(plan["read"])


def test_absent_keys_empty_but_schema_kept(dataset):
    spark, full = dataset["spark"], dataset["full"]
    got = read_pruned(spark, dataset["data"], dataset["idx"], [-5, -6])
    assert got.count() == 0
    assert got.columns == full.columns


def test_stale_index_still_exact_on_late_file(dataset):
    """Keys that exist ONLY in the un-indexed late file: the index knows
    nothing about them, yet the read must return them (unindexed files
    are always read)."""
    spark, full = dataset["spark"], dataset["full"]
    late_keys = [10**9, 10**9 + 7]
    got = read_pruned(spark, dataset["data"], dataset["idx"], late_keys)
    assert sorted(tuple(r) for r in got.collect()) == _expected(
        full, late_keys
    )
    assert got.count() == 2


def test_update_index_covers_late_file(dataset):
    spark = dataset["spark"]
    assert update_index(spark, dataset["data"], dataset["idx"]) == 1
    assert update_index(spark, dataset["data"], dataset["idx"]) == 0
    plan = prune_files(
        spark, dataset["idx"], [10**9], data_path=dataset["data"]
    )
    assert plan["unindexed"] == []
    # now the late key's scan reads exactly one file (+ any FP files)
    got = read_pruned(spark, dataset["data"], dataset["idx"], [10**9])
    assert [r["l_orderkey"] for r in got.collect()] == [10**9]
    assert len(plan["read"]) <= 2  # 1 true + generous FP allowance
    assert len(plan["skipped"]) >= 7


def test_key_counts_never_undercount(dataset):
    spark, full = dataset["spark"], dataset["full"]
    keys = [r[0] for r in full.select("l_partkey").limit(4).collect()]
    est = {
        (r["file"], r["key"]): r["count"]
        for r in key_counts_by_file(spark, dataset["idx"], keys).collect()
    }
    truth = (
        full.withColumn("file", F.input_file_name())
        .where(F.col("l_partkey").isin(keys))
        .groupBy("file", "l_partkey")
        .count()
        .collect()
    )
    for r in truth:
        f = r["file"][7:] if r["file"].startswith("file://") else r["file"]
        # index stores input_file_name() verbatim (file:// scheme varies)
        got = est.get((r["file"], str(r["l_partkey"]))) or est.get(
            (f, str(r["l_partkey"]))
        )
        assert got is not None and got >= r["count"]


def test_merged_index_sketch_matches_direct_build(dataset):
    from cqf_spark.aggregator import cqf_aggregate

    spark, full = dataset["spark"], dataset["full"]
    merged = merged_index_sketch(spark, dataset["idx"])
    direct = cqf_aggregate(
        full.select("l_partkey"), "l_partkey", CFG
    )
    assert merged.nelts == direct.nelts
    assert merged.ndistinct == direct.ndistinct
    import pandas as pd

    from cqf_spark.aggregator import hash_series

    probe = [r[0] for r in full.select("l_partkey").limit(5).collect()]
    hs = hash_series(pd.Series(probe), CFG)
    assert (merged.count_hashes(hs) == direct.count_hashes(hs)).all()


def test_empty_probe_list(dataset):
    spark = dataset["spark"]
    got = read_pruned(spark, dataset["data"], dataset["idx"], [])
    assert got.count() == 0


def test_null_in_probe_list_keeps_large_int_keys(spark, tmp_path):
    """A null next to a key at or above 2**53 must not change the key's
    hash: a float64 detour would probe 2**60 instead of 2**60 + 1, skip
    the only file holding it and lose its row."""
    big = 2**60 + 1
    data, idx = str(tmp_path / "data"), str(tmp_path / "index")
    spark.createDataFrame([(big,), (7,)], "k long").coalesce(1).write.parquet(
        data
    )
    assert build_index(spark, data, "k", idx, CFG) == 1
    for keys in ([big], [big, None], [None, big, 7]):
        plan = prune_files(spark, idx, keys, data_path=data)
        assert (len(plan["read"]), len(plan["skipped"])) == (1, 0), keys
        got = read_pruned(spark, data, idx, keys)
        assert big in {r["k"] for r in got.collect()}, keys
        counts = {
            r["key"]: r["count"]
            for r in key_counts_by_file(spark, idx, keys).collect()
        }
        assert counts.get(str(big)) == 1, (keys, counts)
