"""Resumable checkpointed builds: skip-validated-partitions semantics,
corruption recovery, and final-sketch equality with a direct build."""

import json
import os
import shutil
from functools import reduce

import pytest
from pyspark.sql import DataFrame

from cqf_spark.aggregator import cqf_aggregate
from cqf_spark.checkpoint import CheckpointedBuild, _manifest_path
from cqf_spark.config import CqfConfig, HashMode

CFG = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=99)


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


def _lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_checkpoint_build_equals_direct(spark, sf_dir, ckpt_dir):
    df = _lineitem(spark, sf_dir)
    direct = cqf_aggregate(df, "l_partkey", CFG)
    cb = CheckpointedBuild(spark, ckpt_dir)
    sk = cb.aggregate(df, "l_partkey", CFG)
    assert sk.to_bytes() == direct.to_bytes()
    manifest = json.load(open(_manifest_path(ckpt_dir)))
    assert manifest["rebuilt_partitions"] == manifest["n_partitions"]
    assert manifest["built_rows"] == df.count()
    # lineage rows cover every partition with metrics
    parts = manifest["partitions"]
    assert {r["part_id"] for r in parts} == set(range(manifest["n_partitions"]))
    assert all(r["build_s"] >= 0 and r["blob_hash"] != 0 for r in parts)


def test_resume_skips_validated_partitions(spark, sf_dir, ckpt_dir):
    df = _lineitem(spark, sf_dir)
    cb = CheckpointedBuild(spark, ckpt_dir)
    first = cb.aggregate(df, "l_partkey", CFG)
    # second run: everything validates, nothing rebuilds, same bytes
    sk2 = CheckpointedBuild(spark, ckpt_dir).aggregate(df, "l_partkey", CFG)
    assert sk2.to_bytes() == first.to_bytes()
    manifest = json.load(open(_manifest_path(ckpt_dir)))
    # manifest untouched by the no-op resume
    assert manifest["rebuilt_partitions"] == manifest["n_partitions"]


def test_resume_rebuilds_corrupted_partition(spark, sf_dir, ckpt_dir):
    df = _lineitem(spark, sf_dir)
    cb = CheckpointedBuild(spark, ckpt_dir)
    first = cb.aggregate(df, "l_partkey", CFG)
    # corrupt one partition's lineage hash -> that partition must rebuild
    mpath = _manifest_path(ckpt_dir)
    manifest = json.load(open(mpath))
    manifest["partitions"][0]["blob_hash"] += 1
    json.dump(manifest, open(mpath, "w"))
    cb2 = CheckpointedBuild(spark, ckpt_dir)
    sk = cb2.aggregate(df, "l_partkey", CFG)
    assert sk.to_bytes() == first.to_bytes()
    m2 = json.load(open(mpath))
    assert m2["rebuilt_partitions"] == 1
    assert m2["resumed_partitions"] == m2["n_partitions"] - 1


def test_resume_rebuilds_a_high_partition_of_a_cached_input(
    spark, sf_dir, ckpt_dir
):
    # a cached scan of more partitions than a shuffle has: resume must
    # see every partition id, or a corrupt partial past the shuffle
    # count would drop out of the merge unnoticed
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    li = _lineitem(spark, sf_dir).select("l_partkey")
    assert li.rdd.getNumPartitions() == 1
    df = reduce(DataFrame.union, [li] * (shuffle_n + 4)).cache()
    try:
        first = CheckpointedBuild(spark, ckpt_dir).aggregate(
            df, "l_partkey", CFG
        )
        mpath = _manifest_path(ckpt_dir)
        manifest = json.load(open(mpath))
        assert manifest["n_partitions"] == shuffle_n + 4
        assert len(manifest["partitions"]) == shuffle_n + 4
        top = max(manifest["partitions"], key=lambda r: r["part_id"])
        assert top["part_id"] == shuffle_n + 3
        top["blob_hash"] += 1
        json.dump(manifest, open(mpath, "w"))
        sk = CheckpointedBuild(spark, ckpt_dir).aggregate(
            df, "l_partkey", CFG
        )
    finally:
        df.unpersist()
    assert sk.to_bytes() == first.to_bytes()
    m2 = json.load(open(mpath))
    assert m2["rebuilt_partitions"] == 1
    assert sk.nelts == df.count()


def test_config_change_invalidates(spark, sf_dir, ckpt_dir):
    df = _lineitem(spark, sf_dir)
    cb = CheckpointedBuild(spark, ckpt_dir)
    cb.aggregate(df, "l_partkey", CFG)
    other = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=100)
    sk = CheckpointedBuild(spark, ckpt_dir).aggregate(df, "l_partkey", other)
    assert sk.to_bytes() == cqf_aggregate(df, "l_partkey", other).to_bytes()
    manifest = json.load(open(_manifest_path(ckpt_dir)))
    assert manifest["rebuilt_partitions"] == manifest["n_partitions"]


def test_partials_wipe_recovers(spark, sf_dir, ckpt_dir):
    df = _lineitem(spark, sf_dir)
    cb = CheckpointedBuild(spark, ckpt_dir)
    first = cb.aggregate(df, "l_partkey", CFG)
    shutil.rmtree(os.path.join(ckpt_dir, "partials"))
    sk = CheckpointedBuild(spark, ckpt_dir).aggregate(df, "l_partkey", CFG)
    assert sk.to_bytes() == first.to_bytes()


def test_metrics_df(spark, sf_dir, ckpt_dir):
    df = _lineitem(spark, sf_dir)
    cb = CheckpointedBuild(spark, ckpt_dir)
    cb.aggregate(df, "l_partkey", CFG)
    m = cb.metrics_df()
    assert m.count() > 0
    assert {"part_id", "nelts", "ndistinct", "n_rows", "build_s"} <= set(m.columns)
