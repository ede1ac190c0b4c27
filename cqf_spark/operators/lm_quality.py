"""N-gram language-model quality scoring (the CCNet/KenLM pipeline
stage, sketch-backed): score every document by how typical its token
n-grams are of a reference corpus, where the reference LM's counts live
in ONE broadcast CQF.

This is the engine's north-star use case composed into a quality
signal — "frequency queries over token n-gram streams" — and the reason
a counting filter (not a Bloom filter) is the right sketch: the probe
returns the training COUNT of each gram, not mere membership, so the
score is a real log-frequency statistic.

Topology at 100 TB: the reference LM builds once (partition-local CQF
builds, blob-only tree merge — ``cqf_aggregate``), broadcasts to every
executor, and the scored corpus is probed scan-locally; the only
exchange is the per-document aggregation of (sum log-count, gram count),
which partial-aggregates map-side.  Past broadcastable sketch sizes the
probe becomes ``ShardedCqf.count_join`` (sharded.py) with identical
semantics.

Exactness: with the gate configs the CQF stores the full hash
(key_bits-wide quotient+remainder), so counts are exact unless two
distinct grams collide in the 48-bit hash space (~n^2/2^49 — the same
discipline every oracle-matched multiplicity query here already relies
on).  Reference: qf_count_key_value (src/gqf.c:2018) as the LM lookup.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregator import count_udf, cqf_aggregate
from ..config import CqfConfig
from .decontam import ngrams_expr


def ngram_lm_scores(
    corpus: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    config: CqfConfig | None = None,
    sharded: bool = False,
    n_shards: int = 16,
) -> DataFrame:
    """Per document: (id_col, n_grams, sum_log1p_count, lm_score) where
    lm_score = mean over the document's gram OCCURRENCES of
    ln(1 + train_count(gram)) — 0.0 for docs shorter than n tokens.
    Higher = more typical of the reference corpus; filter low scores as
    gibberish/boilerplate, or high ones for in-domain selection.

    ``sharded=True`` is the beyond-broadcast regime (reference LM too big
    for one executor-resident blob): the LM lives in a ``ShardedCqf`` and
    distinct grams are answered through ``count_join`` — probe exchange
    carries (key, shard, salt) only — then joined back onto the gram
    stream.  Scores are identical to the broadcast path (unit-proven)."""
    grams = reference.select(
        F.explode(ngrams_expr(n, text_col)).alias("_g")
    )
    config = config or CqfConfig(key_bits=48, seed=31)
    spark = corpus.sparkSession
    doc_grams = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(ngrams_expr(n, text_col)).alias("_g"),
    )
    if sharded:
        from ..sharded import ShardedCqf

        # persist=False: the LM sketch is consumed exactly once (by the
        # cogroup below), so the caller-owned cache would only leak
        lm = ShardedCqf.aggregate(
            grams, "_g", config, n_shards=n_shards, persist=False
        )
        counts = lm.count_join(
            doc_grams.where(F.col("_g").isNotNull()).select("_g").distinct(),
            "_g",
        ).withColumnRenamed("approx_count", "_c")
        counted = doc_grams.join(counts, "_g", "left_outer").withColumn(
            "_c", F.coalesce("_c", F.lit(0))
        )
    else:
        # cqf_aggregate counts the grams in the JVM first: Python sees one
        # row per distinct gram instead of the reference's whole gram stream
        sketch = cqf_aggregate(grams, "_g", config)
        counted = doc_grams.withColumn(
            "_c", count_udf(spark, sketch)(F.col("_g"))
        )
    return (
        counted.groupBy("_id")
        .agg(
            F.count("_g").alias("n_grams"),
            F.round(
                F.coalesce(F.sum(F.log(F.col("_c") + 1.0)), F.lit(0.0)), 4
            ).alias("sum_log1p_count"),
            F.round(
                F.coalesce(
                    # try_divide: ANSI-safe for the zero-gram (too-short)
                    # documents, NULL -> 0.0 via the coalesce
                    F.try_divide(
                        F.sum(F.log(F.col("_c") + 1.0)), F.count("_g")
                    ),
                    F.lit(0.0),
                ),
                4,
            ).alias("lm_score"),
        )
        .select(F.col("_id").alias(id_col), "n_grams", "sum_log1p_count",
                "lm_score")
    )


# --------------------------------------------------------------------- #
# driver-gated query + standalone DuckDB oracle
# --------------------------------------------------------------------- #

_N = 2


def q_ngram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-score every document against a reference LM trained on the
    even-doc_id half of the corpus; even docs score themselves high
    (their grams are in the LM by construction), unseen-gram-heavy docs
    score low — the oracle recomputes every count and log exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    reference = docs.where(F.col("doc_id") % 2 == 0)
    return ngram_lm_scores(docs, reference, n=_N)


LM_QUALITY_ORACLES: dict[str, str] = {
    "cqf_ngram_lm_quality": f"""
WITH rt AS (
  SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 2 = 0
),
rg AS (
  SELECT array_to_string(toks[i : i + {_N} - 1], ' ') AS g
  FROM (
    SELECT toks,
           unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
    FROM rt
  )
),
lm AS (SELECT g, count(*) AS c FROM rg GROUP BY g),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
cg AS (
  SELECT doc_id, array_to_string(toks[i : i + {_N} - 1], ' ') AS g
  FROM (
    SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
    FROM ct
  )
),
scored AS (
  SELECT cg.doc_id, count(*) AS n_grams,
         sum(ln(1 + coalesce(lm.c, 0))) AS s
  FROM cg LEFT JOIN lm USING (g) GROUP BY cg.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       round(coalesce(s.s, 0.0), 4) AS sum_log1p_count,
       round(coalesce(s.s / s.n_grams, 0.0), 4) AS lm_score
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN scored s USING (doc_id)
""",
}

LM_QUALITY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cqf_ngram_lm_quality": q_ngram_lm_quality,
}
