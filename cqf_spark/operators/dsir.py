"""DSIR-style importance weighting for data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
arXiv:2302.03169): score every raw-corpus document by how much more
likely its token n-grams are under a small TARGET distribution (the
domain you want more of) than under the RAW distribution it was drawn
from, then keep the highest-weight documents.

DSIR's estimator is a bag-of-n-grams ratio: the published method hashes
grams into a fixed bucket table because exact gram counts at corpus
scale don't fit one machine.  A counting quotient filter removes that
compromise: both distributions live in broadcast CQFs keyed by the gram
itself (exact within the 2^-r false-positive sliver — the same
discipline every multiplicity gate here relies on), so the weight uses
real per-gram counts, not bucket-collided ones.

Per document, with add-one smoothing over the union vocabulary V and
gram-occurrence totals T (target) / R (raw):

    log_w(d) = sum_{g in d} [ ln(c_t(g)+1) - ln(c_r(g)+1) ]
               + n_grams(d) * [ ln(R+V) - ln(T+V) ]

which is exactly sum_g ln p_target(g)/p_raw(g) under add-one-smoothed
unigram-of-n-grams models.  Zero-gram (too short) documents score 0.

Topology at 100 TB: both sketches build with partition-local CQFs and a
blob-only tree merge (``cqf_aggregate``), broadcast once, and the raw
corpus is probed SCAN-LOCALLY — both counts come back from one select
with no join and no shuffle of the gram stream; the only exchange is the
per-document aggregation, which partial-aggregates map-side.  The
normalization scalars cost NOTHING extra: T and R are the sketches' own
``sum_of_counts`` metadata (qf_get_sum_of_counts, src/gqf.c:2173) and V
is the ``ndistinct`` of their union merge (qf_merge, src/gqf.c:2432) —
the §2.4/§2.6 surface doing real work, no third scan of either corpus.
Past broadcastable sketch sizes the probes become
``ShardedCqf.count_join`` exactly as in ngram_lm_scores (lm_quality.py),
with T/R/V from the sharded metadata sums (sharded.py).

Reference parity: the probe is qf_count_key_value (src/gqf.c:2018) —
the counting filter's raison d'être vs a Bloom filter is precisely that
this returns COUNTS, which is what an importance ratio needs.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..aggregator import count_udf, cqf_aggregate
from ..config import CqfConfig
from .decontam import ngrams_expr

__all__ = ["dsir_log_weights"]


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    config: CqfConfig | None = None,
) -> DataFrame:
    """Per raw-corpus document: ``(id_col, n_grams, sum_log_ratio,
    log_weight)`` with ``sum_log_ratio = sum_g ln((c_t+1)/(c_r+1))``
    (rounded half-up to 4 decimals, SQL-mirrorable) and ``log_weight``
    the fully normalized add-one-smoothed log importance ratio above.
    Select documents by ``ORDER BY log_weight DESC`` (or resample with a
    deterministic Gumbel perturbation — see tests)."""
    config = config or CqfConfig(key_bits=48, seed=37)
    spark = raw.sparkSession

    # cqf_aggregate counts each gram stream in the JVM before the build
    # (natural-language gram streams are Zipfian, so the map-side combine
    # collapses the head mass before anything reaches Python)
    sk_t = cqf_aggregate(
        target.select(F.explode(ngrams_expr(n, text_col)).alias("_g")),
        "_g",
        config,
    )
    sk_r = cqf_aggregate(
        raw.select(F.explode(ngrams_expr(n, text_col)).alias("_g")),
        "_g",
        config,
    )

    # normalization scalars read off the sketches' own metadata — exact
    # within the same 48-bit-collision sliver as the counts themselves
    big_t = float(sk_t.sum_of_counts)
    big_r = float(sk_r.sum_of_counts)
    vocab = float(sk_t.merge(sk_r).ndistinct)
    norm = F.lit(math.log(big_r + vocab) - math.log(big_t + vocab))

    doc_grams = raw.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(ngrams_expr(n, text_col)).alias("_g"),
    )
    # both sketch probes in ONE select, scan-local (no join, no gram
    # shuffle) — the curation-pipeline discipline (VERDICT r3)
    counted = doc_grams.select(
        "_id",
        "_g",
        count_udf(spark, sk_t)(F.col("_g")).alias("_ct"),
        count_udf(spark, sk_r)(F.col("_g")).alias("_cr"),
    )
    per_doc = counted.groupBy("_id").agg(
        F.count("_g").alias("n_grams"),
        F.coalesce(
            F.sum(F.log(F.col("_ct") + 1.0) - F.log(F.col("_cr") + 1.0)),
            F.lit(0.0),
        ).alias("_slr"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        F.round("_slr", 4).alias("sum_log_ratio"),
        F.round(F.col("_slr") + F.col("n_grams") * norm, 4).alias(
            "log_weight"
        ),
    )


# --------------------------------------------------------------------- #
# gate query + standalone DuckDB oracle (EXTRA_QUERIES — the locally
# mirrored set beyond the driver gate's 50-row cap, registry.py)
# --------------------------------------------------------------------- #

_N = 2


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights for every document against a target
    domain defined as the lang='en' slice: English-gram-heavy documents
    must come back with the highest log_weight.  The oracle recomputes
    both gram distributions, the smoothing totals, and every log
    exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    target = docs.where(F.col("lang") == "en")
    return dsir_log_weights(
        docs.select("doc_id", "text"), target.select("doc_id", "text"), n=_N
    )


DSIR_ORACLE = f"""
WITH tt AS (
  SELECT string_split(text, ' ') AS toks FROM documents WHERE lang = 'en'
),
tg AS (
  SELECT array_to_string(toks[i : i + {_N} - 1], ' ') AS g
  FROM (SELECT toks,
               unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
        FROM tt)
),
rt AS (SELECT string_split(text, ' ') AS toks FROM documents),
rg AS (
  SELECT array_to_string(toks[i : i + {_N} - 1], ' ') AS g
  FROM (SELECT toks,
               unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
        FROM rt)
),
tc AS (SELECT g, count(*) AS c FROM tg GROUP BY g),
rc AS (SELECT g, count(*) AS c FROM rg GROUP BY g),
tot AS (
  SELECT (SELECT count(*) FROM tg) AS T,
         (SELECT count(*) FROM rg) AS R,
         (SELECT count(DISTINCT g)
          FROM (SELECT g FROM tg UNION ALL SELECT g FROM rg)) AS V
),
ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
cg AS (
  SELECT doc_id, array_to_string(toks[i : i + {_N} - 1], ' ') AS g
  FROM (SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - {_N} + 1, 0) + 1)) AS i
        FROM ct)
),
scored AS (
  SELECT cg.doc_id, count(*) AS n_grams,
         sum(ln(coalesce(tc.c, 0) + 1) - ln(coalesce(rc.c, 0) + 1)) AS slr
  FROM cg LEFT JOIN tc USING (g) LEFT JOIN rc USING (g)
  GROUP BY cg.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       round(coalesce(s.slr, 0.0), 4) AS sum_log_ratio,
       round(coalesce(s.slr + s.n_grams * (ln(tot.R + tot.V) - ln(tot.T + tot.V)),
                      0.0), 4) AS log_weight
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN scored s USING (doc_id)
CROSS JOIN tot
"""

DSIR_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dsir_importance_weights": q_dsir_importance,
}
DSIR_ORACLES: dict[str, str] = {
    "dsir_importance_weights": DSIR_ORACLE,
}
