"""Benchmark decontamination (operators/decontam.py): scores against a
DuckDB exact n-gram-overlap oracle, drop policy, and the plan shape
(probe below the exchange)."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from cqf_spark.operators.decontam import (
    contamination_scores,
    decontaminate,
    ngrams_expr,
)


def _frames(spark, sf_dir):
    """Corpus = documents; benchmark = 20 docs whose texts are SLICES of
    corpus texts (guaranteed real overlap) plus unrelated filler."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = (
        docs.where(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.array_join(
                F.slice(F.split("text", " "), 3, 12), " "
            ).alias("text"),
        )
        .unionByName(
            spark.createDataFrame(
                [(9001, "completely unrelated benchmark prompt")],
                "bench_id long, text string",
            )
        )
    )
    return docs, bench


_ORACLE = """
WITH ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
ci AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {n} + 1, 0) + 1)) AS i
  FROM ct
),
cg AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {n} - 1], ' ') AS g
  FROM ci
),
bt AS (SELECT string_split(text, ' ') AS toks FROM bench),
bi AS (
  SELECT toks,
         unnest(range(1, greatest(len(toks) - {n} + 1, 0) + 1)) AS i
  FROM bt
),
bg AS (
  SELECT DISTINCT array_to_string(toks[i : i + {n} - 1], ' ') AS g FROM bi
),
tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_hits FROM cg
  WHERE g IN (SELECT g FROM bg) GROUP BY doc_id
)
SELECT c.doc_id,
       coalesce(t.n_grams, 0) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       CASE WHEN coalesce(t.n_grams, 0) = 0 THEN 0.0
            ELSE round(coalesce(h.n_hits, 0) / t.n_grams, 6) END AS score
FROM (SELECT DISTINCT doc_id FROM corpus) c
LEFT JOIN tot t USING (doc_id) LEFT JOIN hit h USING (doc_id)
ORDER BY doc_id
"""


def test_scores_match_exact_oracle(spark, sf_dir):
    n = 5
    docs, bench = _frames(spark, sf_dir)
    got = (
        contamination_scores(docs, bench, n=n)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("corpus", docs.toPandas())
    con.register("bench", bench.select("text").toPandas())
    want = con.execute(_ORACLE.format(n=n)).df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the construction really contaminates: sliced docs score > 0
    by_id = got.set_index("doc_id")
    sliced = [i for i in by_id.index if i % 25 == 0]
    assert sliced and (by_id.loc[sliced, "n_hits"] > 0).all()
    assert (got["n_hits"] == 0).sum() > len(got) / 2  # most docs clean


def test_decontaminate_drops_exactly_the_flagged(spark, sf_dir):
    n = 5
    docs, bench = _frames(spark, sf_dir)
    scores = contamination_scores(docs, bench, n=n).toPandas()
    flagged = set(scores.loc[scores["score"] > 0, "doc_id"])
    kept = {
        r[0]
        for r in decontaminate(docs, bench, n=n).select("doc_id").collect()
    }
    assert kept == set(scores["doc_id"]) - flagged
    assert flagged and kept


def test_short_docs_score_zero(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(1, "a b c d e")], "bench_id long, text string")
    got = contamination_scores(docs, bench, n=5).toPandas().set_index(
        "doc_id"
    )
    assert got.loc[1, "n_grams"] == 0 and got.loc[1, "score"] == 0.0
    assert got.loc[2, "n_hits"] == 1  # "a b c d e" appears once


def test_benchmark_without_grams_scores_zero(spark):
    # every benchmark text is shorter than n: an empty gram set builds
    # the empty sketch, and nothing is flagged
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(1, "a b c")], "bench_id long, text string")
    got = contamination_scores(docs, bench, n=5).toPandas()
    assert sorted(got["doc_id"]) == [1, 2]
    assert (got["n_hits"] == 0).all() and (got["score"] == 0.0).all()


def test_probe_runs_scan_side(spark, sf_dir):
    """The gram probe must evaluate scan-side (ArrowEvalPython present —
    the broadcast-blob probe, whose below-the-exchange placement is
    plan-audited for the shared mechanism in test_round5's sketch_prune
    test), and corpus gram strings must not appear in any exchange: the
    aggregate exchanges carry only (_id, counts)."""
    docs, bench = _frames(spark, sf_dir)
    df = contamination_scores(docs, bench, n=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Exchange" in plan  # the per-doc aggregation
