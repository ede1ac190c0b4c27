"""Round-3 regression tests: tree-merge group distribution at scale,
single-pass multi-table LSH signatures, null-safe kv probes, content-keyed
sketch cache, IVF UDF-vs-codegen assignment parity, SimHash candidate
bound."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cqf_spark.aggregator import (
    _cached_sketch,
    merge_group_key,
    query_value_udf,
    tree_merge,
)
from cqf_spark.config import CqfConfig, HashMode
from cqf_spark.core import Cqf, hash_keys

CFG = CqfConfig(key_bits=32, hash_mode=HashMode.INVERTIBLE, seed=7)


# --------------------------------------------------------------------- #
# tree_merge fan-in grouping (VERDICT r02 #1)
# --------------------------------------------------------------------- #

def test_merge_group_key_uses_all_groups_at_4096_partitions(spark):
    """After build_sketches every partition holds ONE row at local index 0,
    so monotonically_increasing_id is partition_id * 2^33 — and
    ``pmod(mid, 64)`` collapses all 4096 blobs into group 0 (pid*2^33 is
    a multiple of 64).  The hashed group key must spread them: every
    merge round at n_groups=64 needs >= n_groups/2 non-empty groups."""
    # spark.range with numPartitions=4096 -> 4096 single-row partitions,
    # the exact id layout build_sketches produces, without 4096 builds
    df = spark.range(0, 4096, 1, 4096)
    for n_groups in (64, 128, 4096 // 64):
        nonempty = (
            df.withColumn("g", merge_group_key(n_groups))
            .select("g")
            .distinct()
            .count()
        )
        assert nonempty >= n_groups // 2, (
            f"n_groups={n_groups}: only {nonempty} non-empty merge groups"
        )


def test_merge_group_key_even_groups_from_stride_ids(spark):
    """The historical failure shape in miniature: single-row partitions at
    an even n_groups (64) — the old pmod(mid, n) key yields exactly ONE
    group here; the hashed key must fill at least half."""
    df = spark.range(0, 256, 1, 256)
    old = (
        df.withColumn(
            "g", F.pmod(F.monotonically_increasing_id(), F.lit(64))
        )
        .select("g").distinct().count()
    )
    new = (
        df.withColumn("g", merge_group_key(64)).select("g").distinct().count()
    )
    assert old == 1  # documents the bug this guards against
    assert new >= 32


def test_tree_merge_multi_round_bit_identical(spark):
    """Force >1 fan-in round (fan_in=4 over 32 partials) and check the
    result is byte-identical to a flat k-way merge — grouping is pure
    load balancing, never semantics."""
    rng = np.random.default_rng(42)
    parts = []
    for i in range(32):
        keys = rng.integers(0, 50_000, 3_000).astype(np.uint64)
        parts.append(Cqf.from_hashes(CFG, hash_keys(keys, CFG)))
    df = spark.createDataFrame(
        [(s.to_bytes(),) for s in parts], "sketch binary"
    ).repartition(32)
    merged = tree_merge(df, fan_in=4)
    flat = Cqf.merge_many(parts)
    assert merged.to_bytes() == flat.to_bytes()


# --------------------------------------------------------------------- #
# sketch cache keying (VERDICT r02 #4)
# --------------------------------------------------------------------- #

def test_cached_sketch_distinguishes_same_prefix_blobs():
    """Two sketches whose blobs share the 64-byte prefix and length but
    differ mid-blob must resolve to distinct cached sketches (the old
    prefix+suffix+length digest had a silent-collision window)."""
    h1 = np.arange(0, 256, 2, dtype=np.uint64) + 1000
    h2 = h1.copy()
    h2[64] += 1  # single mid-content change, same item count
    a = Cqf.from_hashes(CFG, h1)
    b = Cqf.from_hashes(CFG, h2)
    ba, bb = a.to_bytes(), b.to_bytes()
    assert len(ba) == len(bb) and ba[:64] == bb[:64] and ba != bb
    ca = _cached_sketch(ba)
    cb = _cached_sketch(bb)
    probe = np.array([int(h2[64])], dtype=np.uint64)
    assert int(ca.count_hashes(probe)[0]) == 0
    assert int(cb.count_hashes(probe)[0]) == 1


# --------------------------------------------------------------------- #
# null-safe kv reads (VERDICT r02 #3)
# --------------------------------------------------------------------- #

def test_query_value_udf_null_probe(spark):
    kv_cfg = CqfConfig(
        key_bits=32, value_bits=3, hash_mode=HashMode.INVERTIBLE, seed=7
    )
    sk = Cqf.from_hashes(
        kv_cfg,
        (hash_keys(np.arange(10, dtype=np.uint64), kv_cfg) << np.uint64(3))
        | np.uint64(5),
    )
    df = spark.createDataFrame(
        [(0,), (None,), (7,), (99,)], "k long"
    )
    got = {
        r["k"]: r["v"]
        for r in df.select(
            "k", query_value_udf(spark, sk)("k").alias("v")
        ).collect()
    }
    assert got[0] == 5 and got[7] == 5
    assert got[None] == -1  # null probe reads as absent, no crash
    assert got[99] == -1


# --------------------------------------------------------------------- #
# single-pass multi-table LSH (VERDICT r02 #2)
# --------------------------------------------------------------------- #

def _vec_df(spark, n=40, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_multi_table_signatures_bit_identical_to_per_table(spark):
    from cqf_spark.operators.ann import (
        hyperplane_signatures,
        multi_table_signatures,
    )

    df = _vec_df(spark)
    multi = multi_table_signatures(df, dim=16, n_bits=8, n_tables=4, seed=11)
    got = {
        (r.vec_id, r.table): r.sig for r in multi.collect()
    }
    for t in range(4):
        per = hyperplane_signatures(df, dim=16, n_bits=8, seed=11 + t)
        for r in per.collect():
            assert got[(r.vec_id, t)] == r.sig, f"table {t} id {r.vec_id}"


def test_lsh_plans_single_corpus_python_stage(spark):
    """The whole point of the single-pass rewrite: the corpus feeds the
    bucket join through exactly ONE Python (MapInPandas) stage, not
    n_tables of them."""
    from cqf_spark.operators.ann import cosine_near_dup_pairs, lsh_topk

    def simple_plan(df):
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
        return df._jdf.queryExecution().explainString(mode)

    corpus = _vec_df(spark, n=40)
    queries = _vec_df(spark, n=3, seed=4)
    plan_topk = simple_plan(
        lsh_topk(corpus, queries, dim=16, k=2, n_bits=8, n_tables=8)
    )
    # corpus signatures + query signatures = 2 total; n_tables plays no role
    assert plan_topk.count("MapInPandas") == 2, plan_topk

    plan_pairs = simple_plan(
        cosine_near_dup_pairs(corpus, dim=16, threshold=0.9, n_bits=8, n_tables=8)
    )
    # self-join: one signature stage per side at most (exchange reuse may
    # collapse them to one) — never one per table
    assert plan_pairs.count("MapInPandas") <= 2, plan_pairs


# --------------------------------------------------------------------- #
# file-backed resize rotation (qf_resize_file, gqf_file.c:170-228)
# --------------------------------------------------------------------- #

def test_resize_file_rotates_both_formats(tmp_path):
    keys = np.arange(5000, dtype=np.uint64)
    sk = Cqf.from_hashes(CFG, hash_keys(keys, CFG))
    q0 = sk.geom.qbits

    own = str(tmp_path / "own.cqfsk")
    with open(own, "wb") as f:
        f.write(sk.to_bytes())
    grown = Cqf.resize_file(own, q0 + 2)
    assert grown.geom.qbits == q0 + 2
    reloaded = Cqf.from_bytes(open(own, "rb").read())
    assert reloaded.geom.qbits == q0 + 2
    assert (reloaded.count_hashes(hash_keys(keys, CFG)) == 1).all()

    ref = str(tmp_path / "ref.cqf")
    sk.to_reference_file(ref)
    Cqf.resize_file(ref, q0 + 1)
    reloaded_ref = Cqf.from_reference_file(ref)  # format preserved
    assert reloaded_ref.geom.qbits == q0 + 1
    assert (reloaded_ref.count_hashes(hash_keys(keys, CFG)) == 1).all()
    # no stray temp files left behind
    assert sorted(p.name for p in tmp_path.iterdir()) == ["own.cqfsk", "ref.cqf"]


# --------------------------------------------------------------------- #
# distributed unique_index probes (VERDICT r02 residual #6)
# --------------------------------------------------------------------- #

def test_unique_index_udf_matches_local(spark):
    from cqf_spark.aggregator import unique_index_udf

    keys = np.arange(1, 400, dtype=np.uint64)
    sk = Cqf.from_hashes(CFG, hash_keys(keys, CFG))
    probes = list(range(1, 400, 7)) + [100_000, None]
    df = spark.createDataFrame([(k,) for k in probes], "k long")
    got = {
        r["k"]: r["idx"]
        for r in df.select(
            "k", unique_index_udf(spark, sk)("k").alias("idx")
        ).collect()
    }
    local = sk.unique_indexes(
        np.array([p for p in probes if p is not None], dtype=np.uint64)
    )
    for p, want in zip([p for p in probes if p is not None], local):
        assert got[p] == want
    assert got[100_000] == -1 and got[None] == -1


# --------------------------------------------------------------------- #
# k-means -> IVF composition (trained centroids drive retrieval)
# --------------------------------------------------------------------- #

def test_kmeans_centroids_feed_ivf(spark):
    from cqf_spark.operators.ann import ivf_topk, kmeans_centroids

    corpus = _vec_df(spark, n=80, dim=16, seed=21)
    km = kmeans_centroids(corpus, init_mod=19, init_rem=3, iters=2)
    rows = km.collect()
    cells = sorted({r.cell for r in rows})
    assert len(cells) >= 3  # a real multi-cell clustering
    assert all(r.n_members >= 0 for r in rows)
    # every trained centroid is unit-norm (within the 6-dp rounding)
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, [0.0] * 16)[r.i - 1] = r.val
    for c, v in by_cell.items():
        assert abs(sum(x * x for x in v) - 1.0) < 1e-4, c
    # assemble (vec_id, embedding) and drive IVF retrieval with them
    cent_df = spark.createDataFrame(
        [(c, v) for c, v in by_cell.items()],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id").isin([5, 15]))
    out = ivf_topk(corpus, queries, cent_df, k=3, nprobe=2).collect()
    assert {r.query_id for r in out} == {5, 15}
    assert all(r.vec_id != r.query_id for r in out)


# --------------------------------------------------------------------- #
# SimHash candidate bound (VERDICT r02 #8)
# --------------------------------------------------------------------- #

def test_simhash_candidate_bound(spark):
    """On a corpus of independent random signatures, the banded candidate
    count must track the documented ~k*n^2/2^(w+1) collision bound — a
    banding regression (narrower chunks, duplicated bands) would blow
    well past it."""
    from cqf_spark.operators.dedup import simhash_candidates

    n = 2000
    rng = np.random.default_rng(0xD00D)
    sigs = rng.integers(0, 2**63, n, dtype=np.int64)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "simhash": sigs})
    )
    got = simhash_candidates(df, max_hamming=3).count()
    k, w = 4, 16
    expected = k * n * n / 2 ** (w + 1)  # ~122 at these parameters
    assert got <= 8 * expected, f"{got} candidates vs bound ~{expected:.0f}"


# --------------------------------------------------------------------- #
# SimHash-128 chunk-pair banding (the >10^8-doc scale path)
# --------------------------------------------------------------------- #

def test_simhash_wide_matches_bruteforce(spark, sf_dir):
    """Chunk-pair banding must find EXACTLY the all-pairs hamming<=3 set
    (pigeonhole guarantee: <=3 bad bits touch <=3 of 8 chunks, so some
    chunk PAIR matches), including a planted exact copy."""
    from cqf_spark.operators.dedup import (
        simhash_pairs_wide,
        simhash_signatures_wide,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).where(F.col("doc_id") < 120)
    copies = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    sigs = simhash_signatures_wide(corpus)
    rows = {r.doc_id: (r.sim_lo, r.sim_hi) for r in sigs.collect()}
    ham = lambda a, b: (
        bin((a[0] ^ b[0]) & (2**64 - 1)).count("1")
        + bin((a[1] ^ b[1]) & (2**64 - 1)).count("1")
    )
    ids = sorted(rows)
    want = {
        (i, j)
        for ii, i in enumerate(ids)
        for j in ids[ii + 1 :]
        if ham(rows[i], rows[j]) <= 3
    }
    got = {(r.i, r.j) for r in simhash_pairs_wide(sigs, max_hamming=3).collect()}
    assert got == want
    # every planted copy pair present at hamming 0
    for d in rows:
        if d >= 500000:
            assert (d - 500000, d) in got


def test_simhash_wide_candidate_bound(spark):
    """Random 128-bit signatures: expected random candidates
    ~28*n^2/2^33 (~0.01 at n=2000) — candidate join must stay empty-ish,
    the whole point of the wider prefix."""
    from cqf_spark.operators.dedup import simhash_pairs_wide

    n = 2000
    rng = np.random.default_rng(0xFACE)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "sim_lo": rng.integers(0, 2**63, n, dtype=np.int64),
                "sim_hi": rng.integers(0, 2**63, n, dtype=np.int64),
            }
        )
    )
    assert simhash_pairs_wide(df, max_hamming=3).count() <= 5
