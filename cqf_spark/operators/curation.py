"""End-to-end training-data curation: the composition a 100 TB pretraining
pipeline actually runs, as one declarative query.

    quality filter  ->  language filter  ->  MinHash-LSH dedup (keep the
    smallest doc_id of every near-dup pair)  ->  surviving corpus

Every stage is an operator this library already gates individually
(text_queries.quality_scores / lang_id, dedup.minhash_dedup_pairs); the
point of the composed query is that the WHOLE pipeline has one exact
DuckDB oracle — quality/lang are pure SQL expressions, and the LSH dedup
matches exhaustive Jaccard with per-pair miss probability ~(1-J^4)^32
(≈5e-8 at J=0.8, see dedup_queries); with the fixed data and seeds the
composed result is deterministic, so the gate compares real rows — on
NEW data the probabilistic dedup can legitimately diverge from the
exact-Jaccard oracle at that ~5e-8 per-pair rate.

100 TB shape: quality + lang + token counts are computed as expressions
in ONE ``select`` over the scan (no doc_id self-joins — whole-stage
codegen map work); MinHash signatures are partition-local (shingles
never shuffle); the banded candidate join touches only colliding
buckets; each candidate pair is verified by joining it to its two texts
and intersecting their shingle arrays in one codegen ``select``; and the
final keep/drop is a plain anti-join on the dropped-id set with NO
forced broadcast — web-crawl dup rates of 20-40% make the drop set
corpus-proportional, so AQE picks broadcast only when the runtime size
allows it.  Raw text reaches an exchange only in the input repartition
and in the two verify joins, which look each candidate's texts up by id.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import minhash_dedup_pairs
from .text_queries import (
    LANG_PROFILES,
    alpha_ratio_expr,
    lang_argmax_expr,
    lang_score_exprs,
    n_tokens_expr,
)

MIN_TOKENS = 30
MIN_ALPHA = 0.81
KEEP_LANGS = ("en", "de", "fr", "es")
JACCARD = 0.8


def curate_corpus(
    docs: DataFrame,
    min_tokens: int = MIN_TOKENS,
    min_alpha: float = MIN_ALPHA,
    langs: tuple[str, ...] = KEEP_LANGS,
    jaccard: float = JACCARD,
) -> DataFrame:
    """Surviving (doc_id, pred_lang, n_tokens) after quality, language,
    and near-dup filtering.

    Dedup rule: a doc is dropped iff it has a near-duplicate (exact
    Jaccard >= ``jaccard``) with a SMALLER doc_id among the
    quality+lang survivors — the standard greedy keep-canonical rule,
    deterministic and expressible identically in SQL (``doc_id NOT IN
    (SELECT j FROM pairs)``), no transitive closure needed.
    """
    # all three features are pure codegen expressions of the text column:
    # ONE select over the scan, no doc_id self-joins (VERDICT r3 #2).
    #
    # r6 shape fix (guide §1.2 step 1 — don't compute things twice): the
    # language scores are materialized as COLUMNS in an inner select and
    # the argmax CASE reads those columns, instead of inlining the
    # filter(split(lower(text))) score expression into every CASE branch
    # (the lang_pred_expr form re-evaluated each per-language score up to
    # ~20x per row once Catalyst expanded `greatest` inside each WHEN —
    # measured 8.7 s for the feature pass alone at sf1.0).  CollapseProject
    # keeps the split: score columns are non-cheap and multiply referenced.
    from ..aggregator import ensure_parallelism

    # the compact documents arrive as ONE parquet split at bench scale
    # (a single 6 MB row group) — without this the whole feature +
    # signature chain ran on one core (guide §2.5 input skew); the
    # repartition moves only (doc_id, text) once and is a no-op at real
    # scale where the scan already has thousands of splits
    docs = ensure_parallelism(docs.select("doc_id", "text"))
    scored = docs.select(
        "doc_id",
        "text",
        n_tokens_expr("text").alias("n_tokens"),
        alpha_ratio_expr("text").alias("alpha_ratio"),
        *[
            expr.alias(f"_s_{lg}")
            for lg, expr in lang_score_exprs("text").items()
        ],
    )
    pred = lang_argmax_expr(
        {lg: F.col(f"_s_{lg}") for lg in LANG_PROFILES}
    )
    # persist the compact per-doc feature frame (one row per doc — the
    # scale-safe cache unit, same discipline as the webtext page cache):
    # the dedup stage consumes (doc_id, text) for signatures + shingle
    # verification and the final anti-join consumes the features, and
    # without the persist each of those subtrees re-ran the full scan +
    # feature pass (7 independent parquet scans in the r5 plan).  The
    # filter sits ABOVE the persist so predicate pushdown cannot clone
    # the expensive expressions back into a scan-side Filter.
    feat = scored.select(
        "doc_id", "text", "n_tokens", "alpha_ratio", pred.alias("pred_lang")
    ).persist()
    kept = feat.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("alpha_ratio") >= min_alpha)
        & F.col("pred_lang").isin(*langs)
    )
    pairs = minhash_dedup_pairs(kept.select("doc_id", "text"), threshold=jaccard)
    dropped = pairs.select(F.col("j").alias("doc_id")).distinct()
    # no broadcast hint: the drop set is corpus-proportional on real crawl
    # data (20-40% dup rates) — AQE broadcasts it only when actually small
    return (
        kept.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "pred_lang", "n_tokens")
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_corpus(docs)


def _curation_oracle() -> str:
    langs = ", ".join(repr(x) for x in KEEP_LANGS)
    score = {
        lg: (
            "len(list_filter(string_split(lower(text), ' '), "
            f"x -> list_contains([{', '.join(repr(w) for w in prof)}], x)))"
        )
        for lg, prof in LANG_PROFILES.items()
    }
    best = f"greatest({', '.join(score.values())})"
    cases = " ".join(
        f"WHEN {score[lg]} = {best} THEN '{lg}'" for lg in LANG_PROFILES
    )
    return f"""
WITH feat AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens,
         ROUND(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / LENGTH(text), 4) AS alpha_ratio,
         CASE WHEN {best} = 0 THEN 'und' {cases} END AS pred_lang
  FROM documents),
kept AS (
  SELECT doc_id, text, pred_lang, n_tokens FROM feat
  WHERE n_tokens >= {MIN_TOKENS} AND alpha_ratio >= {MIN_ALPHA}
    AND pred_lang IN ({langs})),
t AS (SELECT doc_id, string_split(text, ' ') l FROM kept),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g FROM t),
sh AS (SELECT DISTINCT doc_id, g FROM sh0),
pairs AS (SELECT a.doc_id i, b.doc_id j, COUNT(*) inter FROM sh a
          JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
dups AS (
  SELECT DISTINCT p.j AS doc_id FROM pairs p
  JOIN sizes sa ON p.i = sa.doc_id JOIN sizes sb ON p.j = sb.doc_id
  WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= {JACCARD})
SELECT doc_id, pred_lang, n_tokens FROM kept
WHERE doc_id NOT IN (SELECT doc_id FROM dups)
"""


CURATION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "curate_training_corpus": q_curate_corpus,
}

CURATION_ORACLES: dict[str, str] = {
    "curate_training_corpus": _curation_oracle(),
}
