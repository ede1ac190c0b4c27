"""Round-5 regression tests: fail-loud query registry (VERDICT r4 #1),
distributed heavy hitters over ShardedCqf (VERDICT r4 #7), and the
persist/unpersist hygiene items (VERDICT r4 #4)."""

import numpy as np
import pandas as pd
import pytest

from cqf_spark.config import CqfConfig, HashMode

INT_CONFIG = CqfConfig(key_bits=48, hash_mode=HashMode.INVERTIBLE, seed=7)


# --------------------------------------------------------------------- #
# registry contract (VERDICT r4 #1): the driver gate records at most 50
# queries in registration order — the registry must hold exactly 50, put
# the flagship early, and fail loudly on drift.
# --------------------------------------------------------------------- #

def test_registry_exactly_50_queries():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) == entry.EXPECTED_QUERIES == 50
    assert set(q) == set(o)


def test_flagship_queries_inside_gate_window():
    """curate_training_corpus vanished at r4 because it registered 51st;
    it and the round-5 additions must sit well inside the 50-row cap."""
    import __spark_entry__ as entry

    order = list(entry.queries())
    assert order.index("curate_training_corpus") < 40
    assert order.index("cqf_sharded_heavy_hitters") < 40
    assert order.index("cqf_sketch_metadata") < 40


def test_registry_import_failures_propagate():
    """No ImportError swallowing anywhere in the registration path."""
    import ast
    import inspect

    import __spark_entry__ as entry
    from cqf_spark.operators import registry

    for mod in (entry, registry):
        tree = ast.parse(inspect.getsource(mod))
        handlers = [n for n in ast.walk(tree) if isinstance(n, ast.ExceptHandler)]
        assert not handlers, f"{mod.__name__} has except clauses: {handlers}"


# --------------------------------------------------------------------- #
# set_count honors qf_set_auto_resize (ADVICE r4): the reference routes
# qf_set_count through qf_insert, which doubles on QF_NO_SPACE.
# --------------------------------------------------------------------- #

def test_set_count_auto_resize_grows():
    from cqf_spark.core import Cqf, NoSpaceError

    cfg = CqfConfig(key_bits=18, hash_mode=HashMode.DEFAULT, seed=4)
    keys = np.random.default_rng(3).integers(0, 2**17, 2000).astype(np.uint64)
    sk = Cqf.empty(cfg, 9)
    i = 0
    try:
        while True:
            sk.insert1(int(keys[i]))
            i += 1
    except NoSpaceError:
        pass
    # full filter, flag off: a count-raising set_count still raises
    with pytest.raises(NoSpaceError):
        sk.set_count(int(keys[i]), 10)
    # flag on: the copy grows instead, content preserved
    grown = sk.set_auto_resize().set_count(int(keys[i]), 10)
    assert grown.geom.qbits > sk.geom.qbits
    assert int(grown.count(keys[i : i + 1])[0]) == 10
    probe = keys[:16]
    assert (grown.count(probe) == sk.count(probe)).all()
    # the original is untouched (set_count works on a copy)
    assert int(sk.count(keys[i : i + 1])[0]) == 0


# --------------------------------------------------------------------- #
# prefix-filtered exact Jaccard == naive inverted-index baseline
# --------------------------------------------------------------------- #

def test_filtered_jaccard_equals_naive(spark):
    """The PPJoin-style prefix+length-filtered join must return exactly
    the naive baseline's pairs on a corpus engineered with (a) heavy
    shared boilerplate shingles (the naive join's quadratic hot spot),
    (b) planted near-dup pairs straddling the 0.8 threshold, and (c)
    length-mismatched docs the length filter prunes."""
    from cqf_spark.operators.dedup import (
        exact_jaccard_pairs,
        exact_jaccard_pairs_filtered,
    )

    boiler = "terms of service apply all rights reserved"
    rows = []
    for d in range(40):
        toks = [f"w{d}_{k}" for k in range(10 + d % 5)]
        rows.append((d, " ".join(toks) + " " + boiler))
        if d % 4 == 0:  # near-dup: one token changed
            toks2 = list(toks)
            toks2[3] = "CHANGED"
            rows.append((d + 100, " ".join(toks2) + " " + boiler))
        if d % 7 == 0:  # exact dup
            rows.append((d + 200, " ".join(toks) + " " + boiler))
        if d % 9 == 0:  # short fragment: length filter territory
            rows.append((d + 300, " ".join(toks[:4])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.5, 0.8, 0.95):
        naive = exact_jaccard_pairs(docs, threshold=t).toPandas()
        fast = exact_jaccard_pairs_filtered(docs, threshold=t).toPandas()
        key = ["i", "j"]
        naive = naive.sort_values(key).reset_index(drop=True)
        fast = fast.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(naive, fast), t
        assert len(naive) > 0  # the corpus actually plants pairs


# --------------------------------------------------------------------- #
# distributed heavy hitters (VERDICT r4 #7)
# --------------------------------------------------------------------- #

@pytest.fixture(scope="module")
def skewed_df(spark):
    """Key k appears 401-k times for k in 1..400 — unique counts, so the
    top-k is unambiguous — plus a planted tie block (keys 1000..1003 with
    count 350 each) to pin the (count DESC, key ASC) tie-break."""
    rows = []
    for k in range(1, 401):
        rows.extend([(k,)] * (401 - k))
    for k in range(1000, 1004):
        rows.extend([(k,)] * 350)
    return spark.createDataFrame(rows, "key long").repartition(8)


def _exact_topk(skewed_df, k):
    pdf = skewed_df.toPandas()
    cnt = pdf.groupby("key").size().reset_index(name="count")
    cnt = cnt.sort_values(["count", "key"], ascending=[False, True])
    return cnt.head(k).reset_index(drop=True)


def test_sharded_heavy_hitters_exact(spark, skewed_df):
    from cqf_spark.sharded import ShardedCqf

    sk = ShardedCqf.aggregate(skewed_df, "key", INT_CONFIG, n_shards=8)
    try:
        got = (
            sk.heavy_hitters_df(52)
            .toPandas()
            .astype({"key": "int64", "count": "int64"})
            .reset_index(drop=True)
        )
    finally:
        sk.df.unpersist()
    want = _exact_topk(skewed_df, 52).astype({"key": "int64", "count": "int64"})
    pd.testing.assert_frame_equal(got, want)
    # five keys tie at count 350 (51, 1000..1003) and k=52 cuts through
    # the tie: key-ASC must keep exactly {51, 1000} and drop 1001..1003
    tied = set(got.loc[got["count"] == 350, "key"])
    assert tied == {51, 1000}


def test_sharded_heavy_hitters_spans_shards(spark, skewed_df):
    """Every shard contributes at most k rows to the decode output, and
    the global result is identical for any k that crosses shard lines."""
    from cqf_spark.sharded import ShardedCqf

    sk = ShardedCqf.aggregate(skewed_df, "key", INT_CONFIG, n_shards=4)
    try:
        got = sk.heavy_hitters_df(50).toPandas()
    finally:
        sk.df.unpersist()
    want = _exact_topk(skewed_df, 50)
    assert got["key"].astype("int64").tolist() == want["key"].tolist()
    assert got["count"].astype("int64").tolist() == want["count"].tolist()


def test_heavy_hitters_requires_invertible(spark, skewed_df):
    from cqf_spark.sharded import ShardedCqf

    cfg = CqfConfig(key_bits=48, hash_mode=HashMode.DEFAULT, seed=7)
    sk = ShardedCqf.aggregate(skewed_df, "key", cfg, n_shards=4)
    try:
        with pytest.raises(ValueError, match="INVERTIBLE"):
            sk.heavy_hitters_df(5)
    finally:
        sk.df.unpersist()


def test_load_pages_explicit_format_and_no_fs_probe(spark, sf_dir, tmp_path):
    """ADVICE r4: path-vs-table must resolve by syntax or explicit
    format, never by probing the driver filesystem — a cwd-relative file
    matching a table name must not shadow the table."""
    import os

    from cqf_spark.webtext import load_pages, synth_webtext

    pages = synth_webtext(spark, sf_dir)
    pages.createOrReplaceTempView("pages_shadow")
    p = str(tmp_path / "bigger.parquet")
    pages.unionAll(pages).write.parquet(p)
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        os.rename("bigger.parquet", "pages_shadow")
        # bare name = TABLE, even though ./pages_shadow exists on disk
        via_table = load_pages(spark, "pages_shadow")
        assert via_table.count() == pages.count()
        # explicit format reaches the file under the same name
        via_file = load_pages(
            spark, str(tmp_path / "pages_shadow"), source_format="parquet"
        )
        assert via_file.count() == 2 * pages.count()
    finally:
        os.chdir(cwd)
    with pytest.raises(ValueError, match="source_format"):
        load_pages(spark, "x", source_format="iceberg_manifest")


def test_ivf_auto_mode_leaves_no_cache(spark):
    """VERDICT r4 #3/#4: auto-mode ivf_topk used to persist the query
    frame and never release it — after a full auto-mode call there must
    be no new cached plans in the session."""
    from cqf_spark.operators.ann import ivf_topk

    rng = np.random.default_rng(11)
    mk = lambda n, off: spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(off, off + n, dtype=np.int64),
                "embedding": list(
                    rng.normal(size=(n, 8)).astype("float64")
                ),
            }
        )
    )
    corpus, queries, cents = mk(200, 0), mk(5, 1000), mk(8, 2000)
    spark.catalog.clearCache()  # isolate from other tests' query caches
    jsm = spark._jsparkSession.sharedState().cacheManager()
    assert jsm.isEmpty(), "cache not empty before the call"
    out = ivf_topk(corpus, queries, cents, k=3, nprobe=2)  # auto mode
    assert out.count() > 0
    assert jsm.isEmpty(), "auto-mode ivf_topk left a cached plan behind"


def test_heavy_hitters_plan_is_take_ordered(spark, skewed_df):
    """The global top-k must plan as TakeOrderedAndProject — no full sort
    exchange over the per-shard candidates."""
    from cqf_spark.sharded import ShardedCqf

    sk = ShardedCqf.aggregate(skewed_df, "key", INT_CONFIG, n_shards=4)
    try:
        plan = sk.heavy_hitters_df(10)._jdf.queryExecution().executedPlan().toString()
    finally:
        sk.df.unpersist()
    assert "TakeOrderedAndProject" in plan


# --------------------------------------------------------------------- #
# Gopher-style repetition metrics in quality_scores
# --------------------------------------------------------------------- #

def test_repetition_metrics_values(spark):
    """dup_token_frac and top-bigram count/mass against hand-computed
    values, including the <2-token edge the sequence() guard covers and
    a doc whose most frequent bigram is NOT the first one sorted."""
    from cqf_spark.operators.text_queries import quality_scores

    rows = [
        (1, "spam ham spam ham spam ham spam ham"),  # "spam ham" x4 of 7
        (2, "one"),                                  # no bigrams
        (3, "all distinct words here now"),          # every bigram unique
        (4, "z z a a a z z z"),                      # "z z" x3 beats "a a" x2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        quality_scores(df)
        .orderBy("doc_id")
        .select(
            "doc_id", "n_distinct_tokens", "dup_token_frac",
            "top_bigram_count", "n_bigrams", "top_bigram_frac",
        )
        .collect()
    )
    want = [
        (1, 2, 0.75, 4, 7, 0.5714),
        (2, 1, 0.0, 0, 0, 0.0),
        (3, 5, 0.0, 1, 4, 0.25),
        (4, 2, 0.75, 3, 7, 0.4286),
    ]
    assert [tuple(r) for r in got] == want


def test_top_bigram_count_matches_explode_groupby(spark, sf_dir):
    """The codegen sorted-run fold must agree with the canonical
    explode -> groupBy count on real corpus text (docs with <2 tokens
    produce no exploded rows, so the join is inner over the rest)."""
    import pyspark.sql.functions as F
    from cqf_spark.operators.text_queries import (
        bigrams_expr, top_bigram_count_expr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    fold = docs.select("doc_id", top_bigram_count_expr().alias("fc"))
    naive = (
        docs.select("doc_id", F.explode(bigrams_expr()).alias("bg"))
        .groupBy("doc_id", "bg").count()
        .groupBy("doc_id").agg(F.max("count").alias("nc"))
    )
    joined = fold.join(naive, "doc_id")
    assert joined.where(F.col("fc") != F.col("nc")).count() == 0
    assert joined.count() > 100  # the corpus really exercised the fold


# --------------------------------------------------------------------- #
# sketch-accelerated join pruning (bloom-join with a CQF)
# --------------------------------------------------------------------- #

def test_sketch_semi_join_exact(spark, sf_dir):
    """Pruned semi/inner joins must be EXACT: no false negatives by
    construction, false positives removed by the real join."""
    import pyspark.sql.functions as F
    from cqf_spark.operators.sketch_join import (
        sketch_inner_join, sketch_semi_join,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # a small dim subset under the fact table's key name
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where("c_custkey % 37 = 0")
        .select(F.col("c_custkey").alias("o_custkey"), "c_acctbal")
    )
    want_semi = sorted(
        r[0]
        for r in orders.join(dim.select("o_custkey").distinct(),
                             "o_custkey", "left_semi")
        .select("o_orderkey").collect()
    )
    got_semi = sorted(
        r[0]
        for r in sketch_semi_join(orders, dim, "o_custkey")
        .select("o_orderkey").collect()
    )
    assert got_semi == want_semi and len(want_semi) > 0

    want_inner = orders.join(dim, "o_custkey").count()
    assert sketch_inner_join(orders, dim, "o_custkey").count() == want_inner


def test_sketch_prune_cuts_shuffle_rows(spark, sf_dir):
    """The pre-filter must (a) keep every true match and (b) shrink the
    big side to ~|matches| + fp*|big| BEFORE any exchange — the plan
    shows the Arrow probe below the join's shuffle."""
    import pyspark.sql.functions as F
    from cqf_spark.operators.sketch_join import (
        build_key_filter, sketch_prune, sketch_semi_join,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where("c_custkey % 37 = 0")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    sk = build_key_filter(dim, "o_custkey")
    n_big = orders.count()
    n_match = orders.join(dim.distinct(), "o_custkey", "left_semi").count()
    n_pruned = sketch_prune(orders, "o_custkey", sk).count()
    assert n_pruned >= n_match  # no false negatives
    # fp bound with generous slack (r=16 remainder at this config)
    assert n_pruned <= n_match + max(50, int(0.01 * n_big))
    assert n_pruned < 0.5 * n_big  # the prune is actually pruning

    # The pruned frame itself must be exchange-free (scan -> Arrow probe):
    # any join the caller adds can only introduce exchanges ABOVE it, so
    # the probe always runs before the shuffle.  (The semi join itself may
    # legitimately broadcast the small side — no exchange at all.)
    plan = (
        sketch_prune(orders, "o_custkey", sk)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan and "Exchange" not in plan
    assert "ArrowEvalPython" in (
        sketch_semi_join(orders, dim, "o_custkey")
        ._jdf.queryExecution().executedPlan().toString()
    )


def test_sketch_anti_join_exact(spark, sf_dir):
    """Pruned anti join must be EXACT: the not-contains branch is safe
    because the CQF has no false negatives, and the contains branch's
    exact anti-join removes the true duplicates."""
    import pyspark.sql.functions as F
    from cqf_spark.operators.sketch_join import sketch_anti_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where("c_custkey % 3 = 0")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    want = sorted(
        r[0]
        for r in orders.join(dim.distinct(), "o_custkey", "left_anti")
        .select("o_orderkey").collect()
    )
    got = sorted(
        r[0]
        for r in sketch_anti_join(orders, dim, "o_custkey")
        .select("o_orderkey").collect()
    )
    assert got == want and 0 < len(want) < orders.count()


def test_snapshot_incremental_dedup_persisted_sketch(spark, sf_dir, tmp_path):
    """The resumable crawl-over-crawl path: fingerprints of snapshot 1
    persisted as an on-disk reference-format CQF image, reloaded by the
    next run, and used to anti-join snapshot 2 (which contains planted
    cross-snapshot duplicates) down to its genuinely new pages."""
    import pyspark.sql.functions as F
    from cqf_spark.core import Cqf
    from cqf_spark.operators.sketch_join import (
        build_key_filter, sketch_anti_join,
    )
    from cqf_spark.webtext import synth_webtext, with_extracted_text

    pages = with_extracted_text(synth_webtext(spark, sf_dir)).select(
        "url", "warc_ts", F.xxhash64("extracted_text").alias("fp")
    )
    days = [r[0] for r in pages.select(F.to_date("warc_ts")).distinct()
            .orderBy(F.to_date("warc_ts")).collect()]
    assert len(days) >= 2
    old = pages.where(F.to_date("warc_ts") == F.lit(days[0]))
    # snapshot 2 = day-2 pages plus every 4th day-1 page re-crawled
    recrawled = old.where(F.xxhash64("url") % 4 == 0)
    new = pages.where(F.to_date("warc_ts") == F.lit(days[-1])).unionByName(
        recrawled
    )
    assert recrawled.count() > 0

    # run 1 persists its fingerprint sketch; run 2 reloads it from disk
    path = str(tmp_path / "seen_fp.cqf")
    build_key_filter(old.select("fp"), "fp").to_reference_file(path)
    seen = Cqf.from_reference_file(path)

    got = sorted(
        r[0]
        for r in sketch_anti_join(new, old.select("fp"), "fp", sketch=seen)
        .select("url").collect()
    )
    want = sorted(
        r[0]
        for r in new.join(old.select("fp").distinct(), "fp", "left_anti")
        .select("url").collect()
    )
    assert got == want
    # the recrawls really were removed and the new day really survived
    assert len(want) < new.count()
    assert len(want) > 0


# --------------------------------------------------------------------- #
# ExactSubstr duplicated-span detection (operators/dedup.py)
# --------------------------------------------------------------------- #

def test_exact_substring_spans_hand_case(spark):
    """Hand-computed case: k=3, doc 1 repeats doc 0's opening trigram
    twice (overlapping occurrences merge into one span), doc 2 is clean,
    doc 3 is too short to window."""
    from cqf_spark.operators.dedup import exact_substring_spans
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),          # canonical first for 'a b c'
            (1, "x a b c a b c y"),    # 'a b c' at pos 1 and 4 -> one span
            (2, "p q r s t"),          # unique windows only
            (3, "u v"),                # shorter than k
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans(docs, k=3).collect()
    }
    # doc 1: dup windows start at 1 and 4; 4-1 <= 3 merges -> [1, 7)
    assert got == {(1, 1, 7)}


def test_exact_substring_spans_cross_doc_canonical_first(spark):
    """The smallest (doc, pos) occurrence is canonical and never marked;
    every later occurrence is, including within the same document."""
    from cqf_spark.operators.dedup import exact_substring_spans

    docs = spark.createDataFrame(
        [
            (10, "m n o m n o"),   # pos 0 canonical, pos 3 dup -> [3, 6)
            (20, "z z m n o z"),   # pos 2 dup of doc 10 pos 0 -> [2, 5)
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in exact_substring_spans(docs, k=3).collect()
    }
    assert got == {(10, 3, 6), (20, 2, 5)}


# --------------------------------------------------------------------- #
# deterministic split + stratified sampling (operators/sampling.py)
# --------------------------------------------------------------------- #

def test_split_proportions_and_determinism(spark):
    from cqf_spark.operators.sampling import train_val_test_split
    from pyspark.sql import functions as F

    docs = spark.range(20_000).select(F.col("id").alias("doc_id"))
    out = train_val_test_split(docs, weights=(0.8, 0.1, 0.1), salt="s")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = 20_000
    assert abs(counts["train"] / n - 0.8) < 0.02
    assert abs(counts["val"] / n - 0.1) < 0.01
    assert abs(counts["test"] / n - 0.1) < 0.01
    # determinism: same salt -> identical assignment; partitioning-free
    again = train_val_test_split(
        docs.repartition(7), weights=(0.8, 0.1, 0.1), salt="s"
    )
    assert out.exceptAll(again).count() == 0
    # a different salt reshuffles assignments
    other = train_val_test_split(docs, weights=(0.8, 0.1, 0.1), salt="t")
    moved = out.join(other.withColumnRenamed("split", "split2"), "doc_id") \
        .where("split != split2").count()
    assert moved > 1000


def test_stratified_sample_rate_per_stratum(spark):
    from cqf_spark.operators.sampling import stratified_sample
    from pyspark.sql import functions as F

    # skewed strata: 'big' has 19x the rows of 'small'
    docs = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 == 0, "small").otherwise("big").alias("lang"),
    )
    kept = stratified_sample(docs, 0.25, strata_col="lang", salt="s")
    rates = {
        r["lang"]: r["k"] / r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n"))
        .join(
            kept.groupBy("lang").agg(F.count("*").alias("k")), "lang"
        ).collect()
    }
    # every stratum sampled at ~25% despite the 19x size skew
    assert abs(rates["big"] - 0.25) < 0.02
    assert abs(rates["small"] - 0.25) < 0.05
    # reproducible row-by-row
    again = stratified_sample(docs, 0.25, strata_col="lang", salt="s")
    assert kept.exceptAll(again).count() == 0


# --------------------------------------------------------------------- #
# CQF n-gram LM quality scoring (operators/lm_quality.py)
# --------------------------------------------------------------------- #

def test_ngram_lm_scores_separate_in_domain_from_noise(spark):
    from cqf_spark.operators.lm_quality import ngram_lm_scores

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps"),        # fully in-domain
            (101, "zq xv qqj wpl zzt mnb"),            # all grams unseen
            (102, "x"),                                # too short for n=2
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_lm_scores(corpus, ref, n=2).collect()}
    # in-domain doc: every bigram was seen 8 times -> score ln(9)
    import math
    assert abs(rows[100]["lm_score"] - round(math.log(9), 4)) < 1e-9
    assert rows[101]["lm_score"] == 0.0 and rows[101]["n_grams"] == 5
    assert rows[102]["lm_score"] == 0.0 and rows[102]["n_grams"] == 0
    assert rows[100]["lm_score"] > rows[101]["lm_score"]


def test_cut_spans_removes_exactly_the_duplicated_tokens(spark):
    from cqf_spark.operators.dedup import cut_spans, exact_substring_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),
            (1, "x a b c a b c y"),   # span [1,7) from the k=3 dup test
            (2, "p q r s t"),         # untouched (no spans)
        ],
        "doc_id long, text string",
    )
    spans = exact_substring_spans(docs, k=3)
    out = {r["doc_id"]: r["text"] for r in cut_spans(docs, spans).collect()}
    assert out[0] == "a b c d e"      # canonical occurrence survives
    assert out[1] == "x y"            # tokens 1..6 cut
    assert out[2] == "p q r s t"
    # end-to-end invariant: re-running span detection on the cut corpus
    # finds nothing left to cut
    cut_docs = spark.createDataFrame(
        [(k, v) for k, v in out.items()], "doc_id long, text string"
    )
    assert exact_substring_spans(cut_docs, k=3).count() == 0


def test_ngram_lm_scores_sharded_parity(spark, sf_dir):
    """The beyond-broadcast path (ShardedCqf + count_join) must produce
    byte-identical scores to the broadcast-sketch path."""
    from cqf_spark.operators.lm_quality import ngram_lm_scores
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    a = ngram_lm_scores(docs, ref, n=2).toPandas().sort_values(
        "doc_id"
    ).reset_index(drop=True)
    b = ngram_lm_scores(docs, ref, n=2, sharded=True, n_shards=8).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b)
    assert (a["lm_score"] > 0).any()


# --------------------------------------------------------------------- #
# domain mixing: per-group caps + temperature rebalancing
# (operators/sampling.py cap_per_group / temperature_mix)
# --------------------------------------------------------------------- #

def _mix_docs(spark):
    """60/25/15-ish skew across three hosts, deterministic keys."""
    from pyspark.sql import functions as F

    return spark.range(6_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 6, "big.com")
        .when(F.col("id") % 10 < 9, "mid.org")
        .otherwise("rare.net")
        .alias("host"),
    )


def test_cap_per_group_bounds_and_determinism(spark):
    from cqf_spark.operators.sampling import cap_per_group
    from pyspark.sql import functions as F

    docs = _mix_docs(spark)
    capped = cap_per_group(docs, "host", k=50, salt="c")
    per = {r["host"]: r["n"] for r in
           capped.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert all(n == 50 for n in per.values())  # every host has >50 rows
    assert set(capped.columns) == set(docs.columns)  # helpers dropped
    # winners are a pure function of (salt, host, doc_id): rerun under a
    # different partitioning -> identical row set
    again = cap_per_group(docs.repartition(13), "host", k=50, salt="c")
    assert capped.exceptAll(again).count() == 0
    # a group smaller than k survives whole
    small = docs.where("host = 'rare.net'").limit(7)
    assert cap_per_group(small, "host", k=50, salt="c").count() == 7


def test_cap_per_group_winners_are_smallest_hashes(spark):
    """The kept rows must be exactly the k smallest md5 buckets per
    group — recomputed independently with hashlib."""
    import hashlib

    from cqf_spark.operators.sampling import cap_per_group

    docs = _mix_docs(spark)
    kept = {
        (r["host"], r["doc_id"])
        for r in cap_per_group(docs, "host", k=25, salt="w").collect()
    }
    rows = [(r["host"], r["doc_id"]) for r in docs.collect()]
    by_host: dict = {}
    for host, did in rows:
        h = hashlib.md5(f"w|{host}|{did}".encode()).hexdigest()[:8]
        by_host.setdefault(host, []).append((h, did))
    expect = set()
    for host, hs in by_host.items():
        for _, did in sorted(hs)[:25]:
            expect.add((host, did))
    assert kept == expect


def test_cap_per_group_prefilter_parity(spark):
    """The skew-safe two-phase path must return the IDENTICAL row set to
    the exact window path — including groups small enough that the
    prefilter threshold cuts into their true top-k (the re-admit path)."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.sampling import cap_per_group

    # a long tail of tiny hosts (~3 rows each) to exercise re-admits
    tail = spark.range(180).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.concat(F.lit("tail-"),
                 (F.col("id") % 61).cast("string")).alias("host"),
    )
    docs = _mix_docs(spark).unionByName(tail)
    exact = cap_per_group(docs, "host", k=20, salt="p")
    fast = cap_per_group(
        docs, "host", k=20, salt="p", prefilter=True,
        est_rows_per_group=2_000,
    )
    assert exact.exceptAll(fast).count() == 0
    assert fast.exceptAll(exact).count() == 0


def test_temperature_mix_rates_and_membership(spark):
    """tau=0 -> uniform target over domains; the realized keep-rates and
    the per-row membership must match an independent recompute."""
    import hashlib

    from cqf_spark.operators.sampling import temperature_mix

    docs = _mix_docs(spark)
    out = temperature_mix(docs, "host", temperature=0.0, salt="m")
    rows = docs.collect()
    counts: dict = {}
    for r in rows:
        counts[r["host"]] = counts.get(r["host"], 0) + 1
    n = sum(counts.values())
    # tau=0: every domain targets n/3 rows
    rates = {g: min(1.0, (n / 3) / c) for g, c in counts.items()}
    expect = set()
    for r in rows:
        rate = rates[r["host"]]
        thr = "g" if rate >= 1.0 else format(int(rate * 16**8), "08x")
        h = hashlib.md5(f"m|{r['host']}|{r['doc_id']}".encode()).hexdigest()[:8]
        if h < thr:
            expect.add((r["host"], r["doc_id"]))
    got = {(r["host"], r["doc_id"]) for r in out.collect()}
    assert got == expect
    # the rare domain is kept whole (rate 1.0 -> up-sampling never happens)
    rare_rate = {r["host"]: r["mix_rate"] for r in
                 out.select("host", "mix_rate").distinct().collect()}
    assert rare_rate["rare.net"] == 1.0
    assert got >= {(r["host"], r["doc_id"]) for r in rows
                   if r["host"] == "rare.net"}
    # tau=1, full fraction -> identity (every row kept, all rates 1)
    ident = temperature_mix(docs, "host", temperature=1.0, salt="m")
    assert ident.count() == len(rows)


def test_mix_plans_are_scan_local(spark):
    """temperature_mix's corpus pass and the default cap path must keep
    their promised topology: the mix filter is a scan-local Project
    (zero Exchange); the cap is exactly ONE Exchange (the window)."""
    from cqf_spark.operators.sampling import cap_per_group, temperature_mix

    docs = _mix_docs(spark)
    mix_plan = temperature_mix(docs, "host", 0.5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in mix_plan
    cap_plan = cap_per_group(docs, "host", k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert cap_plan.count("Exchange") == 1


# --------------------------------------------------------------------- #
# text cleaning: boilerplate line removal + PII scrubbing
# (operators/cleaning.py)
# --------------------------------------------------------------------- #

def _boiler_docs(spark):
    """200 docs of unique lines; a cookie banner on 60%, a footer on 30%,
    and doc 0 repeating its OWN private line 5 times."""
    from pyspark.sql import functions as F

    body = F.concat_ws(
        "\n",
        F.concat(F.lit("unique line a for "), F.col("id").cast("string")),
        F.when(F.col("id") % 5 < 3, "This site uses cookies. Accept?")
        .otherwise(F.concat(F.lit("filler "), F.col("id").cast("string"))),
        F.when(F.col("id") % 10 < 3, "(c) 2026 Example Corp footer")
        .otherwise(F.concat(F.lit("more "), F.col("id").cast("string"))),
        F.concat(F.lit("unique line b for "), F.col("id").cast("string")),
    )
    self_rep = F.concat_ws(
        "\n", *([F.lit("my private refrain")] * 5), F.lit("tail line")
    )
    return spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, self_rep).otherwise(body).alias("text"),
    )


def test_strip_boilerplate_matches_exact_join(spark):
    """Sketch-probe path == join-based exact twin, row for row; the
    banner (60% doc-frequency) dies, the footer (30%) dies at thr=40,
    unique lines survive, and a doc's self-repeated line counts ONCE."""
    from cqf_spark.operators.cleaning import (
        _strip_boilerplate_exact,
        strip_boilerplate,
    )

    docs = _boiler_docs(spark)
    got = strip_boilerplate(docs, min_docs=40).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    want = _strip_boilerplate_exact(docs, min_docs=40).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(got, want)
    joined = "\n".join(got["clean_text"])
    assert "cookies" not in joined and "footer" not in joined
    assert "unique line a for 7" in joined
    # doc 0: its refrain appears in ONE document (df=1 < 40) -> kept whole
    row0 = got[got["doc_id"] == 0].iloc[0]
    assert row0["n_dropped"] == 0 and row0["clean_text"].count(
        "my private refrain") == 5


def test_strip_boilerplate_frac_threshold_and_empty_doc(spark):
    """min_doc_frac resolves against the corpus size; a doc that is ALL
    boilerplate comes back with empty clean_text, not a lost row."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.cleaning import strip_boilerplate

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 99, "banner everywhere")
        .otherwise(F.concat_ws("\n", F.lit("banner everywhere"),
                               F.concat(F.lit("own "),
                                        F.col("id").cast("string"))))
        .alias("text"),
    )
    out = strip_boilerplate(docs, min_doc_frac=0.5)
    assert out.count() == 100
    row99 = out.where("doc_id = 99").collect()[0]
    assert row99["clean_text"] == "" and row99["n_dropped"] == 1
    assert out.where("clean_text like '%banner%'").count() == 0


def test_scrub_pii_rules_and_counts(spark):
    from cqf_spark.operators.cleaning import scrub_pii

    rows = [
        (0, "mail me at jo.doe+x@sub.example.org or ping 10.0.255.1"),
        (1, "call (555) 123-4567 or +1 555-321-7654; SSN 123-45-6789"),
        (2, "the year 2026 had 365 days and pi is 3.14159"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[0]["clean_text"] == "mail me at <EMAIL> or ping <IP>"
    assert out[0]["n_email"] == 1 and out[0]["n_ip"] == 1
    assert out[1]["clean_text"] == "call <PHONE> or <PHONE>; SSN <SSN>"
    assert out[1]["n_phone"] == 2 and out[1]["n_ssn"] == 1
    # prose numerals untouched
    assert out[2]["clean_text"] == rows[2][1]
    assert out[3]["clean_text"] is None


def test_cleaning_plans_are_scan_local(spark):
    """scrub_pii is one codegen Project (zero Exchange); the
    strip_boilerplate FILTER pass is likewise exchange-free — its only
    shuffle is the blob-only tree merge inside the build, which has
    already run by plan time."""
    from cqf_spark.operators.cleaning import scrub_pii, strip_boilerplate

    docs = _boiler_docs(spark)
    pii_plan = scrub_pii(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in pii_plan
    strip_plan = strip_boilerplate(docs, min_docs=40)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in strip_plan


def test_temperature_mix_upsample_epochs(spark):
    """upsample=True: a rare domain with target rate r > 1 is emitted
    floor(r) times per row plus a frac(r) coin — expected share tracks
    q_g; membership/epochs match an independent recompute; the default
    path's rows are exactly the upsampled path's epoch=1 slice for
    clamped domains."""
    import hashlib

    from pyspark.sql import functions as F

    from cqf_spark.operators.sampling import temperature_mix

    docs = _mix_docs(spark)
    out = temperature_mix(docs, "host", temperature=0.0, salt="u",
                          upsample=True)
    rows = docs.collect()
    counts: dict = {}
    for r in rows:
        counts[r["host"]] = counts.get(r["host"], 0) + 1
    n = sum(counts.values())
    rates = {g: (n / 3) / c for g, c in counts.items()}
    expect: dict = {}
    for r in rows:
        rate = rates[r["host"]]
        whole, part = int(rate), rate - int(rate)
        thr = "g" if part >= 1.0 else format(int(part * 16**8), "08x")
        h = hashlib.md5(f"u|{r['host']}|{r['doc_id']}".encode()) \
            .hexdigest()[:8]
        reps = whole + (1 if h < thr else 0)
        if reps >= 1:
            expect[(r["host"], r["doc_id"])] = reps
    got: dict = {}
    for r in out.collect():
        key = (r["host"], r["doc_id"])
        got[key] = max(got.get(key, 0), r["epoch"])
        assert abs(r["mix_rate"] - rates[r["host"]]) < 1e-9
    assert got == expect
    # rare.net (15% of rows) must actually up-sample: rate > 2
    assert rates["rare.net"] > 2.0
    rare_n = out.where("host = 'rare.net'").count()
    assert rare_n > counts["rare.net"] * 2
    # epochs are dense 1..reps per row
    bad = out.groupBy("host", "doc_id").agg(
        F.count("*").alias("c"), F.max("epoch").alias("m"),
        F.min("epoch").alias("lo")
    ).where("c != m or lo != 1").count()
    assert bad == 0
    # plan stays scan-local (explode is no exchange)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_shuffle_corpus_deterministic_uniform(spark):
    """Global shuffle: a reproducible pseudo-random permutation — same
    salt twice gives the identical order regardless of input
    partitioning; composing with pack_corpus yields identical shards."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.corpus import pack_corpus, shuffle_corpus

    docs = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text for "), F.col("id").cast("string"))
        .alias("text"),
    )
    a = [r["doc_id"] for r in shuffle_corpus(docs).collect()]
    b = [r["doc_id"] for r in
         shuffle_corpus(docs.repartition(17)).collect()]
    assert a == b                      # partitioning-invariant total order
    assert a != sorted(a)              # actually permuted
    c = [r["doc_id"] for r in shuffle_corpus(docs, salt="epoch-2").collect()]
    assert c != a                      # epochs decorrelate by salt
    # pinned-partition mode preserves the same global order
    d = shuffle_corpus(docs, n_partitions=8)
    assert [r["doc_id"] for r in d.collect()] == a
    assert d.rdd.getNumPartitions() == 8
    # packing consumes the shuffled order via order_by: shard layout is
    # byte-stable across reruns/partitionings and differs from id-order
    ord_expr = F.xxhash64(F.lit("shuffle"), F.col("doc_id"))
    p1 = pack_corpus(docs, 500, order_by=ord_expr).toPandas()
    p2 = pack_corpus(docs.repartition(5), 500, order_by=ord_expr).toPandas()
    import pandas as pd
    key = lambda p: p.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(key(p1), key(p2))
    by_id = key(pack_corpus(docs, 500).toPandas())
    assert not key(p1)["shard_id"].equals(by_id["shard_id"])
    # the packed order within a shard IS the shuffled order
    first_shard = p1[p1["shard_id"] == p1.iloc[0]["shard_id"]]
    ids_in_order = [r["doc_id"] for r in
                    pack_corpus(docs, 500, order_by=ord_expr)
                    .orderBy("shard_id", "shard_off").limit(
                        len(first_shard)).collect()]
    assert ids_in_order == a[:len(first_shard)]


def test_mixing_and_cleaning_null_robustness(spark):
    """Web data has missing hosts and NULL text: temperature_mix treats
    NULL as its own domain (rows survive, rate recorded); the boilerplate
    filter returns an empty page with zero counts, not NULL arithmetic."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.cleaning import strip_boilerplate
    from cqf_spark.operators.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(i, "a.com" if i % 3 else None, "line x\nonly line" if i % 7
          else None) for i in range(90)],
        "doc_id long, host string, text string",
    )
    out = temperature_mix(docs, "host", temperature=0.0, salt="n")
    by = {r["host"]: r["n"] for r in
          out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert None in by and by[None] > 0     # null domain survives as a group
    rates = {r["host"]: r["mix_rate"] for r in
             out.select("host", "mix_rate").distinct().collect()}
    assert rates[None] == 1.0              # rarer group -> kept whole
    clean = strip_boilerplate(docs, min_docs=10)
    row = clean.where("doc_id = 0").collect()[0]  # doc 0 has NULL text
    assert row["clean_text"] == "" and row["n_lines"] == 0
    assert row["n_dropped"] == 0
    # the shared lines (df~77 >= 10) die everywhere else
    assert clean.agg(F.sum("n_dropped")).collect()[0][0] > 100


# --------------------------------------------------------------------- #
# property tests: driver-side mixing math + randomized prefilter parity
# --------------------------------------------------------------------- #

from hypothesis import given, settings, strategies as st


@given(
    counts=st.lists(st.integers(1, 10**9), min_size=1, max_size=40),
    tau=st.floats(0.0, 3.0, allow_nan=False),
    frac=st.floats(0.01, 1.0, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_temperature_rates_properties(counts, tau, frac):
    from cqf_spark.operators.sampling import temperature_rates

    cd = {f"d{i}": c for i, c in enumerate(counts)}
    n = sum(counts)
    raw = temperature_rates(cd, tau, frac, clamp=False)
    # mass conservation: expected kept/emitted rows == frac * N exactly
    assert abs(sum(raw[g] * cd[g] for g in cd) - frac * n) < 1e-6 * n
    # tau < 1 flattens: rates anti-monotone in domain size
    if tau < 1.0:
        by_size = sorted(cd, key=cd.__getitem__)
        rs = [raw[g] for g in by_size]
        assert all(a >= b - 1e-12 for a, b in zip(rs, rs[1:]))
    # tau == 1 is a uniform coin: every domain gets exactly frac
    if tau == 1.0:
        assert all(abs(r - frac) < 1e-9 for r in raw.values())
    clamped = temperature_rates(cd, tau, frac, clamp=True)
    assert all(0.0 < r <= 1.0 + 1e-12 for r in clamped.values())
    assert all(clamped[g] <= raw[g] + 1e-12 for g in cd)


@given(weights=st.lists(st.floats(0.01, 100.0), min_size=2, max_size=8))
@settings(max_examples=200, deadline=None)
def test_split_thresholds_properties(weights):
    from cqf_spark.operators.sampling import _HEX_SPACE, _thresholds

    ts = _thresholds(weights)
    assert len(ts) == len(weights) - 1
    assert ts == sorted(ts)                      # monotone hex cuts
    assert all(len(t) == 8 for t in ts)          # fixed-width compare
    total = float(sum(weights))
    for i, t in enumerate(ts):
        want = sum(weights[: i + 1]) / total
        assert abs(int(t, 16) / _HEX_SPACE - want) < 1e-6


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cap_prefilter_parity_randomized(spark, seed):
    """Randomized corpora: group sizes spanning 1 to ~3000 (zipf-ish),
    random k/est — the two-phase path must equal the window path
    exactly, whatever the prefilter threshold cuts."""
    import numpy as np

    from cqf_spark.operators.sampling import cap_per_group

    rng = np.random.default_rng(seed)
    n_groups = int(rng.integers(5, 40))
    sizes = np.minimum((rng.pareto(0.7, n_groups) * 30).astype(int) + 1,
                       3000)
    rows = [(int(g * 10**6 + i), f"g{g}")
            for g, s in enumerate(sizes) for i in range(s)]
    docs = spark.createDataFrame(rows, "doc_id long, host string")
    k = int(rng.integers(1, 60))
    est = int(rng.integers(1, 5000))
    exact = cap_per_group(docs, "host", k=k, salt=f"r{seed}")
    fast = cap_per_group(docs, "host", k=k, salt=f"r{seed}",
                         prefilter=True, est_rows_per_group=est)
    assert exact.exceptAll(fast).count() == 0
    assert fast.exceptAll(exact).count() == 0


def test_scaling_sentinel_records_substitution():
    """When a metric's floor ratio lands in the suspect (>1.0) or
    invalid (>1.05) band, the JSON must carry the cross-campaign lo
    floor and the efficiency it implies — the ADVICE r4 disclosure —
    sourced from the recorded campaign logs; a clean campaign records
    null."""
    import json

    import scaling_bench as sb

    cross = sb.cross_campaign_floors()
    assert cross and cross["floors_s"]["lo_webtext_s"] <= 15.0

    def lvl(wt_s, core_s, work=100.0):
        return {
            "webtext_tokens": work, "webtext_s": wt_s,
            "webtext_tokens_per_s": work / wt_s,
            "core_inserts": work, "core_s": core_s,
            "core_inserts_per_s": work / core_s,
            "cpu_steal_pct": 0.0, "trials": 3,
        }

    # throttled lo webtext leg: ratio 60/(4*14) = 1.07 -> INVALID
    lo, hi = lvl(60.0, 40.0), lvl(14.0, 10.8)
    out = sb.summarize(2, [lo, dict(lo)], [hi, dict(hi)], 1.0)
    assert "webtext" in out["metrics_invalid_unreached_floor"]
    assert out["pass_0.8"] is False
    sub = out["cross_campaign_floor_substitution"]["webtext"]
    assert sub["lo_floor_cross_campaign_s"] == min(
        60.0, cross["floors_s"]["lo_webtext_s"])
    assert sub["efficiency_substituted"] == round(
        sub["lo_floor_cross_campaign_s"] / (4 * 14.0), 3)
    assert sub["lo_floor_source_log"].endswith(".log")
    json.loads(json.dumps(out))
    # clean campaign: no substitution recorded
    lo2, hi2 = lvl(40.0, 40.0), lvl(11.0, 11.0)
    out2 = sb.summarize(2, [lo2, dict(lo2)], [hi2, dict(hi2)], 1.0)
    assert out2["cross_campaign_floor_substitution"] is None
    assert out2["pass_0.8"] is True


def test_strip_boilerplate_sharded_parity(spark):
    """Beyond-broadcast regime: the ShardedCqf-backed frequent-set path
    must return row-identical output to the broadcast-sketch path (and
    therefore to the exact join twin), and the fail-loud cap must fire
    when the 'frequent' set explodes."""
    import pytest as _pytest

    from cqf_spark.operators.cleaning import strip_boilerplate

    docs = _boiler_docs(spark)
    a = strip_boilerplate(docs, min_docs=40).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = strip_boilerplate(docs, min_docs=40, sharded=True, n_shards=8) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert a["n_dropped"].sum() > 0   # the parity is not vacuous
    with _pytest.raises(ValueError, match="max_frequent"):
        strip_boilerplate(docs, min_docs=2, sharded=True, max_frequent=3)


def test_pack_corpus_ties_get_disjoint_offsets(spark):
    """Rows tied on the packing order key (e.g. up-sampled epoch copies
    whose order hash ignores the epoch) must still receive disjoint
    running offsets — the default RANGE window frame would pool them."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.corpus import pack_corpus

    docs = spark.createDataFrame(
        [(i, "tok " * 10) for i in range(40)], "doc_id long, text string"
    )
    out = pack_corpus(docs, budget_tokens=1000,
                      order_by=F.lit(0)).toPandas()  # ALL rows tied
    spans = sorted(
        (r["shard_id"], r["shard_off"], r["shard_off"] + r["n_tokens"])
        for _, r in out.iterrows()
    )
    for (s1, a1, b1), (s2, a2, b2) in zip(spans, spans[1:]):
        assert s1 != s2 or b1 <= a2        # no overlap within a shard
    assert (out["n_tokens"] == out["n_tokens"].iloc[0]).all()
    assert len(out) == 40


# --------------------------------------------------------------------- #
# review findings (round-5 self-review): null groups in the prefilter,
# >64-domain join path, PII overlap counts, cores-filtered floors
# --------------------------------------------------------------------- #

def test_cap_prefilter_parity_with_null_groups(spark):
    """A NULL group is a real group: the prefilter path's re-admission
    joins must be null-safe, or an unsafe NULL group's rows silently
    vanish (confirmed pre-fix: exact kept 25, prefilter kept 2)."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.sampling import cap_per_group

    docs = spark.range(130).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 13 < 3, None).otherwise("host.com")
        .alias("host"),
    )
    exact = cap_per_group(docs, "host", k=25, salt="n")
    fast = cap_per_group(docs, "host", k=25, salt="n", prefilter=True,
                         est_rows_per_group=2000)
    assert exact.exceptAll(fast).count() == 0
    assert fast.exceptAll(exact).count() == 0
    assert fast.where("host is null").count() == 25


def test_temperature_mix_many_domains_join_path(spark):
    """Past 64 domains the rate table applies via a broadcast join, not
    a when-chain: membership and rates must match the same independent
    hashlib recompute the when-chain path is tested against."""
    import hashlib

    from pyspark.sql import functions as F

    from cqf_spark.operators.sampling import temperature_mix, temperature_rates

    docs = spark.range(4_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("id") % 200).cast("string"))
        .alias("host"),
    )
    out = temperature_mix(docs, "host", temperature=0.3, salt="j")
    rows = docs.collect()
    counts: dict = {}
    for r in rows:
        counts[r["host"]] = counts.get(r["host"], 0) + 1
    rates = temperature_rates(counts, 0.3, 1.0, clamp=True)
    expect = set()
    for r in rows:
        rate = rates[r["host"]]
        thr = "g" if rate >= 1.0 else format(int(rate * 16**8), "08x")
        h = hashlib.md5(f"j|{r['host']}|{r['doc_id']}".encode()) \
            .hexdigest()[:8]
        if h < thr:
            expect.add((r["host"], r["doc_id"]))
    got = {(r["host"], r["doc_id"]) for r in out.collect()}
    assert got == expect
    # no helper columns leak
    assert set(out.columns) == {"doc_id", "host", "mix_rate"}
    # upsample through the join path keeps the epoch contract
    up = temperature_mix(docs, "host", 0.0, salt="j", upsample=True)
    assert "epoch" in up.columns and up.count() >= len(rows)


def test_scrub_pii_no_double_count_on_overlap(spark):
    """A match consumed by an earlier rule must not increment a later
    rule's count: counts equal tags actually emitted."""
    from cqf_spark.operators.cleaning import scrub_pii

    df = spark.createDataFrame(
        [(0, "reach me: 555-123-4567@ex.com only")],
        ["doc_id", "text"],
    )
    row = scrub_pii(df).collect()[0]
    assert row["clean_text"] == "reach me: <EMAIL> only"
    assert row["n_email"] == 1
    assert row["n_phone"] == 0       # consumed by the email rule
    assert row["clean_text"].count("<PHONE>") == row["n_phone"]


def test_cross_campaign_floors_filter_by_cores(tmp_path):
    """A log from a different-N campaign must not contribute floors:
    records are filtered by their own cores field."""
    import scaling_bench as sb

    log = tmp_path / "alien.log"
    log.write_text(
        "[scaling] round 0: lo={'cores': 4, 'webtext_s': 1.0, 'core_s': 1.0}"
        " hi={'cores': 16, 'webtext_s': 0.5, 'core_s': 0.5}\n"
        "[scaling] round 1: lo={'cores': 2, 'webtext_s': 20.0, 'core_s': 30.0}"
        " hi={'cores': 8, 'webtext_s': 5.0, 'core_s': 9.0}\n"
    )
    cf = sb.cross_campaign_floors(2, str(tmp_path))
    assert cf["floors_s"] == {
        "lo_webtext_s": 20.0, "lo_core_s": 30.0,
        "hi_webtext_s": 5.0, "hi_core_s": 9.0,
    }


# --------------------------------------------------------------------- #
# review findings round 2 (core modules): value_bits probes, null probes,
# salt bits, heavy-hitter coalescing, global intersect tie-break,
# checkpoint empty-partition convergence
# --------------------------------------------------------------------- #

def test_broadcast_udfs_value_bits_probe(spark):
    """count_udf/contains_udf must probe value-PACKED sketches (the
    pre-fix probe compared raw key hashes and always missed)."""
    from pyspark.sql import functions as F

    from cqf_spark.aggregator import contains_udf, count_udf, cqf_aggregate

    cfg = CqfConfig(key_bits=40, value_bits=3, seed=9)
    df = spark.range(500).select((F.col("id") % 100).alias("k"))
    sk = cqf_aggregate(df, "k", cfg)
    probe = spark.range(120).select(F.col("id").alias("k"))
    got = {r["k"]: r["c"] for r in probe.select(
        "k", count_udf(spark, sk)(F.col("k")).alias("c")).collect()}
    assert all(got[k] == 5 for k in range(100))
    member = {r["k"]: r["m"] for r in probe.select(
        "k", contains_udf(spark, sk)(F.col("k")).alias("m")).collect()}
    assert all(member[k] for k in range(100))  # no false negatives


def test_sharded_null_probes_and_value_bits(spark):
    """Null probe keys return 0 (not key-0's count) through BOTH probe
    paths, and value-packed sharded sketches still salt their probes
    (pre-fix: h % n_salt on vb low-zero bits collapsed to salt 0)."""
    from pyspark.sql import functions as F

    from cqf_spark.sharded import ShardedCqf

    cfg = CqfConfig(key_bits=40, value_bits=3, seed=9)
    build = spark.range(400).select(
        F.concat(F.lit("k"), (F.col("id") % 80).cast("string")).alias("k")
    )
    sk = ShardedCqf.aggregate(build, "k", cfg, n_shards=4)
    try:
        probes = spark.createDataFrame(
            [("k3",), ("k79",), (None,), ("absent",)], "k string"
        )
        u = {r["k"]: r["c"] for r in probes.select(
            "k", sk.count_udf(spark)(F.col("k")).alias("c")).collect()}
        assert u["k3"] == 5 and u["k79"] == 5
        assert u[None] == 0 and u["absent"] == 0
        j = {r["k"]: r["approx_count"]
             for r in sk.count_join(probes, "k").collect()}
        assert j["k3"] == 5 and j["k79"] == 5
        assert j[None] == 0 and j["absent"] == 0
    finally:
        sk.df.unpersist()


def test_sharded_heavy_hitters_coalesces_values(spark):
    """A key inserted under several VALUES decodes as several rows of one
    blob; its total count must rank it, not its per-value slices."""
    from pyspark.sql import functions as F

    from cqf_spark.sharded import ShardedCqf

    from cqf_spark.core import hash_keys
    from cqf_spark.sharded import shard_partials

    cfg = CqfConfig(key_bits=40, value_bits=2,
                    hash_mode=HashMode.INVERTIBLE, seed=3)
    # key 7: 3 values x 4 each = 12 total; keys 1..5: 10 each single-value
    pairs = [(7, v) for v in (0, 1, 2) for _ in range(4)]
    for k in range(1, 6):
        pairs += [(k, 0)] * 10
    keys = np.array([p[0] for p in pairs], dtype=np.uint64)
    vals = np.array([p[1] for p in pairs], dtype=np.uint64)
    h = (hash_keys(keys, cfg) << np.uint64(cfg.value_bits)) | vals
    rb = shard_partials(h, None, cfg, 4)
    rows = [tuple(col[i].as_py() for col in rb.columns)
            for i in range(rb.num_rows)]
    sdf = spark.createDataFrame(
        rows, "shard int, sketch binary, nelts long, ndistinct long, "
        "n_rows long"
    )
    sk = ShardedCqf(sdf, cfg, 4)
    got = sk.heavy_hitters_df(1).collect()
    assert got[0]["key"] == 7 and got[0]["count"] == 12


def test_sharded_intersect_global_tiebreak(spark):
    """The keep-whose-counts side is decided once globally: the sharded
    intersect's counts must equal single-node intersect of the merged
    wholes even when a shard's local size order flips."""
    import numpy as np

    from cqf_spark.core import Cqf
    from cqf_spark.sharded import ShardedCqf

    cfg = CqfConfig(key_bits=40, hash_mode=HashMode.INVERTIBLE, seed=5)
    rng = np.random.default_rng(0)
    shared = rng.integers(1, 2**30, 600, dtype=np.uint64)
    only_a = rng.integers(2**30, 2**31, 4000, dtype=np.uint64)
    a_keys = np.concatenate([np.repeat(shared, 3), only_a])  # A bigger
    b_keys = np.repeat(shared, 7)                            # B smaller
    dfa = spark.createDataFrame([(int(k),) for k in a_keys], "key long")
    dfb = spark.createDataFrame([(int(k),) for k in b_keys], "key long")
    sa = ShardedCqf.aggregate(dfa, "key", cfg, n_shards=8)
    sb_ = ShardedCqf.aggregate(dfb, "key", cfg, n_shards=8)
    try:
        inter = sa.intersect(sb_)
        got = [r["count"] for r in inter.items_df().collect()]
        whole = Cqf.from_keys(cfg, a_keys).intersect(Cqf.from_keys(cfg, b_keys))
        _kh, _v, cnts = whole.items()
        # A is globally larger -> every intersected count must be A's (3),
        # in every shard, matching the single-node whole-sketch intersect
        assert len(got) == len(shared) and set(got) == {3}
        assert (cnts == 3).all() and len(cnts) == len(shared)
    finally:
        sa.df.unpersist()
        sb_.df.unpersist()


def test_checkpoint_converges_with_empty_partitions(spark, tmp_path):
    """An empty/null-only partition must validate after one build: the
    second aggregate() on unchanged input does zero rebuilds and the
    epoch counter stops advancing."""
    from pyspark.sql import functions as F

    from cqf_spark.checkpoint import CheckpointedBuild

    cfg = CqfConfig(key_bits=40, seed=11)
    # partition by an id range so partition 3 is entirely null keys
    df = spark.range(400).repartition(4).select(
        F.when(F.col("id") % 4 == 3, None)
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
        .alias("k")
    )
    agg = CheckpointedBuild(spark, str(tmp_path / "ck"))
    s1 = agg.aggregate(df, "k", cfg)
    m1 = agg._load_manifest()
    s2 = agg.aggregate(df, "k", cfg)
    m2 = agg._load_manifest()
    assert s1.to_bytes() == s2.to_bytes()
    assert m2["next_epoch"] == m1["next_epoch"]      # no doomed epochs
    assert m2["rebuilt_partitions"] == m1["rebuilt_partitions"]
    # all-empty input returns the canonical empty sketch, no crash
    empty = spark.createDataFrame([], "k string")
    agg2 = CheckpointedBuild(spark, str(tmp_path / "ck2"))
    s = agg2.aggregate(empty, "k", cfg)
    assert s.ndistinct == 0


def test_streaming_int_group_column(spark, tmp_path):
    """grouped_streaming_sketches must accept a non-string group col."""
    import time as _t

    from cqf_spark.streaming import grouped_streaming_sketches

    cfg = CqfConfig(key_bits=40, seed=13)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "200")
        .load()
        .selectExpr("value % 3 as grp", "cast(value % 17 as string) as k")
    )
    q = (
        grouped_streaming_sketches(stream, "grp", "k", cfg)
        .writeStream.format("memory").queryName("int_grp")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "s"))
        .start()
    )
    try:
        # poll the sink instead of calling processAllAvailable(): a rate
        # source keeps producing rows, so that call can block until some
        # trigger finds no new data, which on a busy host took 10 minutes
        # and more, far past this deadline
        deadline = _t.time() + 60
        while _t.time() < deadline:
            n = spark.sql("select count(*) c from int_grp").collect()[0]["c"]
            if n >= 3:
                break
            _t.sleep(1)
        rows = spark.sql("select * from int_grp").collect()
        assert {r["group"] for r in rows} >= {0, 1, 2}
        assert all(isinstance(r["group"], int) for r in rows)
    finally:
        q.stop()


# ------------------------------------------------------------------ #
# semantic_dedup (SemDedup, arXiv:2303.09540) — cluster-then-prune
# ------------------------------------------------------------------ #

def _semdedup_corpus(spark):
    """12 vectors in 3 well-separated directions; ids 10/11 are planted
    near-copies of id 0 (scaled), id 25 a near-copy of id 20."""
    rng = np.random.default_rng(17)
    base = {0: rng.normal(size=8), 20: rng.normal(size=8), 40: rng.normal(size=8)}
    rows = []
    for cid, v in base.items():
        rows.append((cid, (v).tolist()))
        for j in range(1, 4):
            rows.append((cid + j, (v + rng.normal(size=8) * 2.0).tolist()))
    rows.append((10, (base[0] * 1.5).tolist()))   # dup of 0 (cos = 1)
    rows.append((11, (base[0] * 0.5).tolist()))   # dup of 0 (cos = 1)
    rows.append((25, (base[20] * 2.0).tolist()))  # dup of 20
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def test_semantic_dedup_drops_planted_keeps_rest(spark):
    from cqf_spark.operators.ann import semantic_dedup

    corpus = _semdedup_corpus(spark)
    cents = corpus.where("vec_id in (0, 20, 40)")
    out = semantic_dedup(corpus, cents, threshold=0.99).toPandas()
    dropped = set(out[~out["keep"]]["vec_id"])
    assert dropped == {10, 11, 25}
    # exact scaled copies read cosine 1.0 to their lower-id source
    assert (
        out.set_index("vec_id").loc[[10, 11, 25], "max_prev_cos"] == 1.0
    ).all()
    # survivors include every cell's smallest id (max_prev_cos = -1 only
    # for cell minima)
    minima = out.groupby("cell")["vec_id"].min()
    sentinel = set(out[out["max_prev_cos"] == -1.0]["vec_id"])
    assert sentinel == set(minima)


def test_semantic_dedup_matches_exhaustive_numpy(spark):
    """Chunked upper-triangle max == the O(n^2) dense recompute, on a
    cell big enough that the blocked path takes multiple blocks."""
    from cqf_spark.operators.ann import semantic_dedup

    rng = np.random.default_rng(5)
    n, dim = 600, 16
    mat = rng.normal(size=(n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = corpus.where("vec_id = 0")  # one cell: worst case
    got = (
        semantic_dedup(corpus, cents, threshold=0.5)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    u = mat / np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    s = u @ u.T
    want = np.full(n, -1.0)
    for j in range(1, n):
        want[j] = s[j, :j].max()
    want = np.sign(want) * np.floor(np.abs(want) * 1e4 + 0.5) / 1e4
    assert np.allclose(got["max_prev_cos"].to_numpy(), want)
    assert (got["keep"].to_numpy() == (want < 0.5)).all()


def test_semantic_dedup_cell_cap_fails_loud(spark):
    from cqf_spark.operators.ann import semantic_dedup

    corpus = _semdedup_corpus(spark)
    cents = corpus.where("vec_id = 0")
    with pytest.raises(Exception, match="max_cell_rows"):
        semantic_dedup(corpus, cents, max_cell_rows=5).collect()


def test_semantic_dedup_single_shuffle(spark):
    """The corpus' only exchange is the groupBy(cell) — assignment is
    map-side against the broadcast centroid matrix."""
    from cqf_spark.operators.ann import semantic_dedup

    corpus = _semdedup_corpus(spark)
    cents = corpus.where("vec_id in (0, 20, 40)")
    out = semantic_dedup(corpus, cents, threshold=0.99)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan  # hash exchange (+AQE read) for ONE shuffle


# ------------------------------------------------------------------ #
# scaling_bench launch discipline — the control-window gate is code
# ------------------------------------------------------------------ #

def test_control_verdict_bands():
    """The launch discipline (only measure campaigns whose pure-CPU
    control is clean) is executable, not session lore: below the band =
    contended host, above it = anomalous (the lo control leg itself was
    throttled — the unreached-floor failure mode)."""
    import scaling_bench as sb

    lo, hi = sb.CONTROL_CLEAN_BAND
    assert sb.control_verdict(lo) == "clean"
    assert sb.control_verdict(hi) == "clean"
    assert sb.control_verdict(1.0) == "clean"
    assert sb.control_verdict(lo - 0.01) == "contended"   # r5 c3/c5 windows
    assert sb.control_verdict(0.733) == "contended"
    assert sb.control_verdict(hi + 0.01) == "anomalous"   # r5 c4's 1.153
    assert sb.control_verdict(1.153) == "anomalous"


# ------------------------------------------------------------------ #
# DSIR importance weighting (arXiv:2302.03169) — two-CQF ratio scores
# ------------------------------------------------------------------ #

def _dsir_docs(spark):
    rows = [
        (0, "the cat sat on the mat", "en"),
        (1, "the dog sat on the log", "en"),
        (2, "cat mat cat mat cat mat", "en"),
        (3, "le chat est sur le tapis", "fr"),
        (4, "der hund ist auf dem baum", "de"),
        (5, "the cat sat", "en"),
        (6, "x", "de"),  # zero bigrams -> log_weight 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dsir_matches_exhaustive_recompute(spark):
    """log_weight == the dense pandas recompute of the add-one-smoothed
    bag-of-bigrams importance ratio, for every document."""
    import math
    from collections import Counter

    from cqf_spark.operators.dsir import dsir_log_weights

    docs = _dsir_docs(spark)
    target = docs.where("lang = 'en'")
    got = (
        dsir_log_weights(docs.select("doc_id", "text"),
                         target.select("doc_id", "text"))
        .toPandas().set_index("doc_id").sort_index()
    )

    def bigrams(t):
        toks = t.split(" ")
        return [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]

    rows = docs.collect()
    tc, rc = Counter(), Counter()
    for r in rows:
        gs = bigrams(r.text)
        rc.update(gs)
        if r.lang == "en":
            tc.update(gs)
    T, R = sum(tc.values()), sum(rc.values())
    V = len(set(tc) | set(rc))
    for r in rows:
        gs = bigrams(r.text)
        slr = sum(math.log(tc[g] + 1) - math.log(rc[g] + 1) for g in gs)
        lw = slr + len(gs) * (math.log(R + V) - math.log(T + V))
        assert got.loc[r.doc_id, "n_grams"] == len(gs)
        assert abs(got.loc[r.doc_id, "sum_log_ratio"] - round(slr, 4)) < 1e-9
        assert abs(got.loc[r.doc_id, "log_weight"] - round(lw, 4)) < 1e-9
    # ranking property: in-target-domain docs outweigh out-of-domain ones
    assert got.loc[2, "log_weight"] > got.loc[4, "log_weight"]
    assert got.loc[6, "log_weight"] == 0.0  # zero-gram doc


def test_dsir_gumbel_resample_deterministic(spark):
    """DSIR's selection step — sample proportional to the weights — done
    deterministically: perturb log_weight with a Gumbel noise derived
    from md5(doc_id) (the Gumbel-top-k trick), take top-k.  Pure codegen,
    stable across reruns/partitionings."""
    from pyspark.sql import functions as F

    from cqf_spark.operators.dsir import dsir_log_weights

    docs = _dsir_docs(spark)
    w = dsir_log_weights(docs.select("doc_id", "text"),
                         docs.where("lang = 'en'").select("doc_id", "text"))
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"),
                                          F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("double") + 1.0
    ) / (16.0 ** 8 + 2.0)  # uniform in (0,1), engine-portable
    g = -F.log(-F.log(u))
    picked = (
        w.withColumn("_key", F.col("log_weight") + g)
        .orderBy(F.col("_key").desc()).limit(3)
    )
    a = sorted(r.doc_id for r in picked.collect())
    b = sorted(r.doc_id for r in picked.collect())
    assert a == b and len(a) == 3


def test_dsir_plan_scan_local_probes(spark):
    """The raw corpus' only exchange is the per-document aggregation:
    both sketch probes are scan-local Arrow UDFs (no join anywhere), and
    the normalization scalars come from sketch metadata (literals in the
    plan), not extra scans."""
    from cqf_spark.operators.dsir import dsir_log_weights

    docs = _dsir_docs(spark)
    w = dsir_log_weights(docs.select("doc_id", "text"),
                         docs.where("lang = 'en'").select("doc_id", "text"))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = w._jdf.queryExecution().explainString(mode)
    assert plan.count("Join") == 0, plan
    assert plan.count("Exchange") <= 2, plan  # one shuffle (+AQE read)
