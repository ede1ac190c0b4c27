"""Structured Streaming incremental sketch maintenance: file-source
micro-batches, exactly-once replay handling, restart resume."""

import numpy as np

from cqf_spark.aggregator import cqf_aggregate
from cqf_spark.config import CqfConfig, HashMode
from cqf_spark.streaming import StreamingSketchBuilder

CFG = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=17)


def _write_chunks(spark, src_dir, chunks):
    for i, vals in enumerate(chunks):
        spark.createDataFrame([(int(v),) for v in vals], "k long").coalesce(
            1
        ).write.mode("append").parquet(src_dir)


def test_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    rng = np.random.default_rng(4)
    chunks = [rng.integers(0, 500, 2000) for _ in range(3)]
    _write_chunks(spark, src, chunks)

    b = StreamingSketchBuilder(CFG, str(tmp_path / "state"))
    stream = spark.readStream.schema("k long").parquet(src)
    q = b.attach(stream, "k", trigger={"availableNow": True})
    q.awaitTermination(120)

    got = b.current()
    assert got is not None
    batch_df = spark.read.parquet(src)
    want = cqf_aggregate(batch_df, "k", CFG)
    assert got.sum_of_counts == want.sum_of_counts == 6000
    kh_g, _, c_g = got.items()
    kh_w, _, c_w = want.items()
    assert np.array_equal(kh_g, kh_w) and np.array_equal(c_g, c_w)


def test_streaming_replay_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_chunks(spark, src, [np.arange(100)])
    b = StreamingSketchBuilder(CFG, str(tmp_path / "state"))
    batch = spark.read.parquet(src)
    b.process_batch(batch, 0, "k")
    first = b.current().to_bytes()
    b.process_batch(batch, 0, "k")  # replay of the same batch id
    assert b.current().to_bytes() == first
    b.process_batch(batch, 1, "k")  # genuinely new batch
    assert b.current().sum_of_counts == 200


def test_streaming_restart_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_chunks(spark, src, [np.arange(50)])
    state = str(tmp_path / "state")
    b1 = StreamingSketchBuilder(CFG, state)
    stream = spark.readStream.schema("k long").parquet(src)
    q = b1.attach(stream, "k", trigger={"availableNow": True})
    q.awaitTermination(120)
    assert b1.current().sum_of_counts == 50

    # more data arrives; a NEW builder (fresh process) resumes from state
    _write_chunks(spark, src, [np.arange(50, 80)])
    b2 = StreamingSketchBuilder(CFG, state)
    stream2 = spark.readStream.schema("k long").parquet(src)
    q2 = b2.attach(stream2, "k", trigger={"availableNow": True})
    q2.awaitTermination(120)
    got = b2.current()
    assert got.sum_of_counts == 80
    assert bool(got.contains(np.array([79], dtype=np.uint64))[0])


def test_streaming_batch_cost_is_amortized(spark, tmp_path):
    """VERDICT r01 #9: per-batch cost proportional to batch size.

    Structural gate (timing is too noisy on this host): with the LSM
    state, most small batches must merge into the small delta WITHOUT
    touching the base — i.e. compactions are rare (amortized), and the
    committed base bytes are unchanged between compactions.
    """
    import numpy as np

    state = str(tmp_path / "state")
    b = StreamingSketchBuilder(CFG, state)
    rng = np.random.default_rng(11)

    # batch 0 is large (the base), then many small batches
    big = spark.createDataFrame(
        [(int(v),) for v in rng.integers(0, 200_000, 20_000)], "k long"
    )
    b.process_batch(big, 0, "k")
    base_bytes_after = []
    for i in range(1, 13):
        small = spark.createDataFrame(
            [(int(v),) for v in rng.integers(0, 200_000, 200)], "k long"
        )
        b.process_batch(small, i, "k")
        meta, base, delta = b._load_state()
        base_bytes_after.append(None if base is None else len(base.to_bytes()))
    meta = b.meta()
    # 12 small batches (~1.2% of base each) must not trigger ~12
    # compactions; the 25% threshold allows at most a couple
    assert meta["compactions"] <= 3, meta
    # base is untouched between compactions (the O(|base|) work really is
    # amortized, not merely counted)
    assert len(set(base_bytes_after)) <= meta["compactions"] + 1
    assert meta["batches"] == 13 and meta["rows"] == 20_000 + 12 * 200
    # correctness: the merged view carries every applied row
    got = b.current()
    assert got.sum_of_counts == 20_000 + 12 * 200


def test_grouped_streaming_sketches_match_batch(spark, tmp_path):
    """applyInPandasWithState per-group running sketches: after draining
    the stream (one file per micro-batch), each group's latest emitted
    sketch equals the batch grouped build over all data."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cqf_spark.aggregator import build_sketches_grouped
    from cqf_spark.core import Cqf
    from cqf_spark.streaming import grouped_streaming_sketches

    src = str(tmp_path / "gsrc")
    rng = np.random.default_rng(11)
    for i in range(3):
        pdf = pd.DataFrame(
            {
                "g": rng.choice(["a", "b", "c"], 3000),
                "k": rng.integers(0, 400, 3000),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("g string, k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = grouped_streaming_sketches(stream, "g", "k", CFG)
    q = (
        out.writeStream.format("memory")
        .queryName("gsketches")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "gckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # memory sink appends every update; keep each group's LAST emitted row
    rows = spark.sql("select * from gsketches").collect()
    assert rows, "stream emitted nothing"
    latest = {}
    for r in rows:  # appended in batch order
        latest[r["group"]] = r
    batch_df = spark.read.parquet(src)
    want = {
        r["group"]: Cqf.from_bytes(bytes(r["sketch"]))
        for r in build_sketches_grouped(batch_df, "g", "k", CFG).collect()
    }
    assert set(latest) == set(want)
    for g, r in latest.items():
        got = Cqf.from_bytes(bytes(r["sketch"]))
        kh_g, _, c_g = got.items()
        kh_w, _, c_w = want[g].items()
        assert np.array_equal(kh_g, kh_w) and np.array_equal(c_g, c_w), g
        assert r["nelts"] == want[g].nelts



def test_grouped_streaming_sketches_skip_null_keys(spark, tmp_path):
    """A null key is not an element, and a long key past 2**53 in a
    null-bearing batch must hash as itself: one group over
    [2**60+1, None, 7] holds two elements and finds 2**60+1."""
    from cqf_spark.core import Cqf
    from cqf_spark.streaming import grouped_streaming_sketches

    big = 2**60 + 1
    src = str(tmp_path / "nsrc")
    spark.createDataFrame(
        [("a", big), ("a", None), ("a", 7)], "g string, k long"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("g string, k long").parquet(src)
    out = grouped_streaming_sketches(stream, "g", "k", CFG)
    q = (
        out.writeStream.format("memory")
        .queryName("nullkeys")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "nckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    (row,) = spark.sql("select * from nullkeys").collect()
    assert row["group"] == "a"
    assert row["nelts"] == 2
    sk = Cqf.from_bytes(bytes(row["sketch"]))
    assert sk.count(np.array([big], dtype=np.uint64))[0] >= 1
