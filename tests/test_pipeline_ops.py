"""Unit tests for dedup / text-analysis / ANN operators — especially the
pieces whose queries have no SQL oracle (simhash, lang-id, fingerprints,
LSH internals)."""

import importlib
import os
import sys
import threading
import time
import zipfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cqf_spark.operators.ann import (
    brute_force_topk,
    cosine_near_dup_pairs,
    hyperplane_signatures,
)
from cqf_spark.operators.dedup import (
    minhash_signatures,
    simhash_pairs,
    simhash_signatures,
)
from cqf_spark.operators.text_queries import fingerprints, lang_id


def _mini_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_minhash_estimates_jaccard(spark):
    a = "the quick brown fox jumps over the lazy dog again and again ok"
    b = "the quick brown fox jumps over the lazy cat again and again ok"
    docs = _mini_docs(spark, [a, b])
    sigs = {r.doc_id: np.array(r.sig) for r in minhash_signatures(docs).collect()}
    est = (sigs[0] == sigs[1]).mean()
    # true 3-gram jaccard
    sha = set(zip(a.split(), a.split()[1:], a.split()[2:]))
    shb = set(zip(b.split(), b.split()[1:], b.split()[2:]))
    true = len(sha & shb) / len(sha | shb)
    assert abs(est - true) < 0.15


def _spy_candidates(monkeypatch):
    """Record every candidate frame ``minhash_dedup_pairs`` verifies."""
    from cqf_spark.operators import dedup

    seen = []
    band = dedup.lsh_candidate_pairs

    def spy(*args, **kwargs):
        seen.append(band(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(dedup, "lsh_candidate_pairs", spy)
    return seen


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("threshold", [0.5, 0.8])
def test_minhash_verify_equals_exact_jaccard_on_candidates(
    spark, sf_dir, monkeypatch, threshold
):
    """The verified pairs are exactly the exhaustive Jaccard pairs that
    the bands proposed, with bit-identical jac."""
    from cqf_spark.operators.dedup import exact_jaccard_pairs, minhash_dedup_pairs

    seen = _spy_candidates(monkeypatch)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = _sorted_rows(minhash_dedup_pairs(docs, threshold=threshold))
    (cand,) = seen
    exact = exact_jaccard_pairs(docs, threshold=threshold).join(cand, ["i", "j"])
    want = _sorted_rows(exact.select("i", "j", "jac"))
    assert got == want
    assert got


def test_minhash_skips_docs_without_shingles(spark, monkeypatch):
    """Docs shorter than one shingle all share the sentinel signature;
    they must not reach the band join, where k of them would pair
    k(k-1)/2 ways (and the verify must not divide by zero)."""
    from cqf_spark.operators.dedup import exact_jaccard_pairs, minhash_dedup_pairs

    seen = _spy_candidates(monkeypatch)
    dup = "the quick brown fox jumps over"
    rows = [(k, f"w{k}") for k in range(200)] + [(1000, dup), (1001, dup)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _sorted_rows(minhash_dedup_pairs(docs))
    (cand,) = seen
    assert _sorted_rows(cand) == [(1000, 1001)]
    assert got == _sorted_rows(exact_jaccard_pairs(docs)) == [(1000, 1001, 1.0)]


def test_simhash_close_for_near_dups(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    b = a.replace("gamma", "gammo", 1)
    c = "completely different words entirely unrelated content here now"
    docs = _mini_docs(spark, [a.strip(), b.strip(), c])
    sigs = simhash_signatures(docs)
    rows = {r.doc_id: r.simhash for r in sigs.collect()}
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")
    assert ham(rows[0], rows[1]) <= 6
    assert ham(rows[0], rows[2]) > 10
    pairs = simhash_pairs(sigs, max_hamming=6).collect()
    assert {(r.i, r.j) for r in pairs} == {(0, 1)}


def test_simhash_pairs_match_bruteforce(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = simhash_signatures(docs)
    rows = sigs.collect()
    # brute force hamming <= 3 over all pairs
    vals = {r.doc_id: r.simhash & (2**64 - 1) for r in rows}
    ids = sorted(vals)
    want = {
        (i, j)
        for ai, i in enumerate(ids)
        for j in ids[ai + 1 :]
        if bin(vals[i] ^ vals[j]).count("1") <= 3
    }
    got = {(r.i, r.j) for r in simhash_pairs(sigs, max_hamming=3).collect()}
    assert got == want


def test_lang_id_profiles(spark):
    docs = _mini_docs(
        spark,
        [
            "the cat sat on the mat and it was good",
            "der hund und die katze ist nicht zu haus",
            "le chat et le chien est dans la maison pour un moment",
            "el perro y el gato es una historia de los dos",
            "zzz qqq xxx",
        ],
    )
    got = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und"}


def test_fingerprints_deterministic_and_order_sensitive(spark):
    docs = _mini_docs(spark, ["a b c", "c b a", "a b c"])
    rows = fingerprints(docs).collect()
    by_id = {r.doc_id: (r.fingerprint, r.rolling_fp) for r in rows}
    assert by_id[0] == by_id[2]          # same text -> same prints
    assert by_id[0] != by_id[1]          # order matters
    rows2 = fingerprints(docs).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_hyperplane_signature_similarity(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.05
    far = rng.standard_normal(64)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [base.tolist(), near.tolist(), far.tolist()],
            }
        )
    )
    sigs = {r.vec_id: r.sig for r in hyperplane_signatures(df, 64, 16).collect()}
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")
    assert ham(sigs[0], sigs[1]) <= 3
    assert ham(sigs[0], sigs[2]) >= 4


def test_cosine_near_dup_pairs(spark):
    rng = np.random.default_rng(1)
    base = rng.standard_normal(64)
    rows = [
        (0, base.tolist()),
        (1, (base * 2.0 + rng.standard_normal(64) * 0.01).tolist()),
        (2, rng.standard_normal(64).tolist()),
        (3, rng.standard_normal(64).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_near_dup_pairs(df, dim=64, threshold=0.95).collect()
    assert {(r.i, r.j) for r in got} == {(0, 1)}


def test_brute_force_topk_self_excluded(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 2)
    out = brute_force_topk(emb, q, k=5).collect()
    assert len(out) == 10
    assert all(r.vec_id != r.query_id for r in out)
    for qid in (0, 1):
        ranks = sorted(r.rank for r in out if r.query_id == qid)
        assert ranks == [1, 2, 3, 4, 5]


def test_ivf_topk_finds_planted_neighbor(spark):
    """IVF must retrieve a planted near-duplicate through its cell
    structure: the near-dup lands in the same (or a probed) cell as the
    query, so it must surface as the top hit."""
    from cqf_spark.operators.ann import ivf_topk

    rng = np.random.default_rng(5)
    base = rng.standard_normal(64)
    rows = [(0, base.tolist()), (1, (base * 1.5).tolist())] + [
        (i, rng.standard_normal(64).tolist()) for i in range(2, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = df.where(F.col("vec_id").isin([2, 7, 12, 17]))
    queries = df.where(F.col("vec_id") == 0)
    out = ivf_topk(df, queries, centroids, k=3, nprobe=2).collect()
    assert out, "no candidates surfaced"
    top = min(out, key=lambda r: r.rank)
    assert top.vec_id == 1 and abs(top.cos - 1.0) < 1e-3


def test_ivf_probes_subset_of_cells(spark):
    """With nprobe=1 every result row's candidate came from exactly the
    query's own best cell — the candidate count must be bounded by the
    biggest cell, not the corpus."""
    from cqf_spark.operators.ann import ivf_topk

    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = df.where(F.col("vec_id") < 6)
    queries = df.where(F.col("vec_id").isin([10, 20]))
    out = ivf_topk(df, queries, centroids, k=60, nprobe=1)
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] < 60 for r in per_q)


# --------------------------------------------------------------------- #
# shipping the package to executors
# --------------------------------------------------------------------- #

def _streaming_args(spark):
    from cqf_spark.queries import INT_CONFIG

    rate = spark.readStream.format("rate").load()
    keys = rate.select(F.lit("a").alias("g"), F.col("value").alias("k"))
    return keys, "g", "k", INT_CONFIG


# builders outside cqf_spark.operators, with the arguments they take
_TOP_LEVEL_BUILDERS = {
    "webtext.with_extracted_text": lambda spark: (
        spark.createDataFrame([(1, "<p>x y</p>")], "doc_id long, html string"),
    ),
    "streaming.grouped_streaming_sketches": _streaming_args,
}


@pytest.mark.parametrize("builder", [
    "dedup.minhash_signatures",
    "dedup.simhash_signatures",
    "dedup.simhash_signatures_wide",
    "text_queries.fingerprints",
    "text_queries._fingerprints_keep",
    *_TOP_LEVEL_BUILDERS,
])
def test_map_in_pandas_builders_ship_the_package(spark, monkeypatch, builder):
    """Every Python-worker builder ships cqf_spark first, so a session
    started outside the repo root can unpickle its closures."""
    modname, fname = builder.split(".")
    if builder in _TOP_LEVEL_BUILDERS:
        mod = importlib.import_module(f"cqf_spark.{modname}")
        args = _TOP_LEVEL_BUILDERS[builder](spark)
    else:
        mod = importlib.import_module(f"cqf_spark.operators.{modname}")
        args = (spark.createDataFrame(
            [(1, "a", "x y z")], "doc_id long, variant string, text string"
        ),)
    calls = []
    monkeypatch.setattr(mod, "ensure_shipped", calls.append)
    getattr(mod, fname)(*args)
    assert calls == [spark]


def test_ensure_shipped_concurrent_callers_ship_once(monkeypatch, tmp_path):
    """Concurrent callers on one SparkContext ship exactly once, and the
    archive they ship is whole."""
    from cqf_spark import aggregator

    class FakeContext:
        def __init__(self):
            self.added = []

        def addPyFile(self, path):
            time.sleep(0.01)  # a py4j round trip: widen the race window
            self.added.append(path)

    class FakeSession:
        sparkContext = FakeContext()

    monkeypatch.setattr(aggregator.tempfile, "gettempdir", lambda: str(tmp_path))
    sc = FakeSession.sparkContext
    n = 8
    barrier = threading.Barrier(n)
    errors = []

    def call():
        try:
            barrier.wait(timeout=30)
            aggregator.ensure_shipped(FakeSession)
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        aggregator._SHIPPED.discard(id(sc))
    assert errors == []
    assert len(sc.added) == 1
    with zipfile.ZipFile(sc.added[0]) as zf:
        assert zf.testzip() is None
        assert "cqf_spark/core.py" in zf.namelist()
    assert os.listdir(tmp_path) == [os.path.basename(sc.added[0])]
