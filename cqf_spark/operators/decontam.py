"""Benchmark decontamination: flag training documents whose token
n-grams overlap a held-out evaluation set (the GPT-3/PaLM pipeline
stage).  Exact end-to-end, CQF-accelerated.

Topology at 100 TB: the benchmark side is small (eval suites are
thousands of documents), so its distinct n-gram set becomes ONE
broadcast CQF (built distributed by the raw per-partition build, since
the set is already distinct).  The corpus's exploded gram stream is
probed scan-locally — only the true hits plus the alpha*2^-r
false-positive sliver ever reach the exact verify join — and the
per-document tallies partial-aggregate before their one
exchange on doc id.  Corpus text and non-matching grams never shuffle.

Exactness: the CQF has no false negatives (every benchmark gram is
inserted), and every surviving candidate is confirmed against the real
benchmark gram set by a semi join, so scores equal the plain
explode-join-count (the tests' DuckDB oracle computes exactly that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..aggregator import build_sketches, contains_udf, tree_merge
from ..config import CqfConfig
from ..core import Cqf


def ngrams_expr(n: int, text_col: str = "text"):
    """Whitespace token n-grams as an array Column (space-joined);
    empty array for docs with fewer than n tokens."""
    toks = F.split(F.col(text_col), " ")
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def contamination_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    config: CqfConfig | None = None,
) -> DataFrame:
    """Per-document overlap with the benchmark's n-gram set:
    (id_col, n_grams, n_hits, score) where score = n_hits / n_grams
    over the document's DISTINCT grams (0.0 for docs shorter than n
    tokens).  Callers drop or flag above their threshold."""
    bench_grams = (
        benchmark.select(F.explode(ngrams_expr(n, text_col)).alias("_g"))
        .distinct()
    )
    config = config or CqfConfig(key_bits=48, seed=29)
    # the gram set is already distinct: the raw build, no second exchange
    sketch = tree_merge(
        build_sketches(bench_grams, "_g", config),
        empty=Cqf.empty(config, config.qbits_for(0)),
    )
    spark = corpus.sparkSession
    doc_grams = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(ngrams_expr(n, text_col))).alias("_g"),
    )
    probed = doc_grams.withColumn(
        "_maybe", contains_udf(spark, sketch)(F.col("_g"))
    )
    # exact verify of the sketch's candidates only: a hit survives iff
    # the gram is REALLY in the benchmark set (false positives die here)
    suspects = probed.where("_maybe").join(
        bench_grams.withColumnRenamed("_g", "_g2"),
        F.col("_g") == F.col("_g2"),
        "left_semi",
    )
    hits = suspects.groupBy("_id").agg(F.count("*").alias("n_hits"))
    # r6: per-doc gram totals are a row-local array size — the r5 plan
    # re-ran the whole explode + sketch probe a second time just to
    # count grams (guide §1.2: don't compute things you throw away)
    totals = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.size(F.array_distinct(ngrams_expr(n, text_col))).alias("_n"),
        )
        .groupBy("_id")
        .agg(F.sum("_n").alias("n_grams"))
    )
    return (
        totals.join(hits, "_id", "left_outer")
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.when(F.col("n_grams") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_hits", F.lit(0)) / F.col("n_grams"), 6
                )
            )
            .alias("score"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_score: float = 0.0,
    config: CqfConfig | None = None,
) -> DataFrame:
    """Corpus minus documents whose contamination score exceeds
    ``max_score`` (default: drop on ANY benchmark n-gram overlap, the
    conservative published policy)."""
    scores = contamination_scores(
        corpus, benchmark, id_col, text_col, n, config
    )
    keep = scores.where(F.col("score") <= max_score).select(
        F.col(id_col).alias("_keep_id")
    )
    return corpus.join(
        keep, corpus[id_col] == F.col("_keep_id"), "left_semi"
    )


# --------------------------------------------------------------------- #
# driver-gated query + standalone DuckDB oracle
# --------------------------------------------------------------------- #

_N = 5  # gate gram width; production default is 13 (GPT-3's value)


def q_decontam_scores(spark, sf_dir: str) -> DataFrame:
    """Contamination scores with PLANTED overlap: the benchmark side is a
    12-token slice of every 25th document (guaranteed real hits) plus one
    unrelated prompt; the oracle recomputes the exact explode-join
    overlap from documents alone."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bench = (
        docs.where(F.col("doc_id") % 25 == 0)
        .select(
            F.array_join(F.slice(F.split("text", " "), 3, 12), " ").alias(
                "text"
            )
        )
        .unionByName(
            spark.createDataFrame(
                [("completely unrelated benchmark prompt",)], "text string"
            )
        )
    )
    return contamination_scores(docs, bench, n=_N)


DECONTAM_ORACLES: dict[str, str] = {
    "decontam_scores": f"""
WITH bench AS (
  SELECT array_to_string((string_split(text, ' '))[3:14], ' ') AS text
  FROM documents WHERE doc_id % 25 = 0
  UNION ALL SELECT 'completely unrelated benchmark prompt'
),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
ci AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
  FROM ct
),
cg AS (
  SELECT DISTINCT doc_id,
         array_to_string(toks[i : i + {_N} - 1], ' ') AS g
  FROM ci
),
bt AS (SELECT string_split(text, ' ') AS toks FROM bench),
bi AS (
  SELECT toks,
         unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
  FROM bt
),
bg AS (
  SELECT DISTINCT array_to_string(toks[i : i + {_N} - 1], ' ') AS g FROM bi
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
FROM (SELECT DISTINCT doc_id FROM documents) c
LEFT JOIN tot t USING (doc_id) LEFT JOIN hit h USING (doc_id)
""",
}

DECONTAM_QUERIES = {"decontam_scores": q_decontam_scores}
