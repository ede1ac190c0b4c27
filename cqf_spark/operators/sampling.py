"""Deterministic dataset splitting, stratified sampling, per-group caps
and domain temperature mixing — the reproducibility primitives of a
training-data pipeline: every document's split/sample/cap/mix fate is a
pure function of its key and a salt, so reruns, backfills, and
incremental crawls land rows in the same bucket with no coordination and
no RNG state (split/sample/mix are one codegen Project over the scan;
the per-group cap is one window exchange with a skew-safe prefilter).

The hash is md5's leading 8 hex chars compared as strings (equal-length
lowercase hex compares identically to its numeric value).  md5 here is a
portability choice, not a speed one: Spark, DuckDB, and every warehouse
SQL dialect agree on md5(text), so the driver gate can mirror the exact
assignment — and the per-row cost is the same one-pass digest
xxhash64 would be.  Salts namespace decisions: a doc's train/val/test
split and its eval-subsample membership are independent coins.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_HEX_SPACE = 16**8  # first 8 md5 hex chars = uniform 32-bit bucket


def _bucket(salt: str, *cols: Column) -> Column:
    """Leading-8-hex md5 bucket of (salt | col | col ...), uniform on
    [0, 16^8) as a comparable fixed-width hex string."""
    return F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), *cols)), 1, 8
    )


def _thresholds(weights: Sequence[float]) -> list[str]:
    """Cumulative-weight bucket boundaries as 8-hex-digit literals."""
    total = float(sum(weights))
    out, cum = [], 0.0
    for w in weights[:-1]:
        cum += w / total
        out.append(format(int(cum * _HEX_SPACE), "08x"))
    return out


def train_val_test_split(
    docs: DataFrame,
    key_col: str = "doc_id",
    names: Sequence[str] = ("train", "val", "test"),
    weights: Sequence[float] = (0.98, 0.01, 0.01),
    salt: str = "split",
) -> DataFrame:
    """docs plus a ``split`` column: deterministic hash-bucket assignment
    with expected proportions ``weights``.  Stable under reruns, appends,
    and repartitioning (the assignment reads nothing but the key)."""
    assert len(names) == len(weights) and len(names) >= 2
    assert all(w > 0 for w in weights), "weights must be positive"
    b = _bucket(salt, F.col(key_col).cast("string"))
    expr = F.lit(names[-1])
    for name, thr in reversed(list(zip(names[:-1], _thresholds(weights)))):
        expr = F.when(b < thr, F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def stratified_sample(
    docs: DataFrame,
    fraction: float,
    strata_col: str,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of every stratum: the sampling
    coin is hashed from (salt, stratum, key), so each stratum is sampled
    at the same rate regardless of its size — the property plain
    df.sample() only gives in expectation over the WHOLE frame — and
    membership is reproducible row-by-row.  One codegen filter, no
    shuffle, no count pass."""
    assert 0.0 < fraction <= 1.0
    thr = format(int(fraction * _HEX_SPACE), "08x")
    b = _bucket(
        salt, F.col(strata_col).cast("string"), F.col(key_col).cast("string")
    )
    return docs.where(b < thr)


def cap_per_group(
    docs: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "cap",
    prefilter: bool = False,
    est_rows_per_group: int | None = None,
) -> DataFrame:
    """Keep at most ``k`` rows per group — the per-host cap every crawl
    pipeline applies so a single spam/mirror host can't dominate the
    corpus.  Winners are the k rows with the SMALLEST (salt, group, key)
    hash, i.e. a deterministic uniform-without-replacement sample of k
    per group: stable under reruns and repartitioning, and — unlike
    "first k by doc_id" — unbiased w.r.t. crawl order.

    Default path: one ``row_number`` window on ``group_col`` (one
    exchange).  At 100 TB the window's weakness is skew — a mirror host
    with 10^8 pages sorts 10^8 rows in ONE task (AQE does not split
    window partitions).  ``prefilter=True`` enables the sound two-phase
    variant: a scan-local hash filter first keeps only rows whose bucket
    falls below ~k/est_rows_per_group (with 4x slack), then the exact
    window runs over that sliver.  Groups where the prefilter kept fewer
    than k rows (small groups — the threshold cut into the true top-k)
    are detected by a cheap count and re-admitted in full, so the result
    is IDENTICAL to the exact path (parity-tested), while the heavy
    host's window input drops from n to ~4k rows."""
    assert k >= 1
    cols = docs.columns  # joins on a string key reorder columns — restore
    helper = {"_b", "_rn", "_ug"}
    assert not helper & set(cols), (
        f"input columns collide with cap_per_group helpers: "
        f"{helper & set(cols)}"
    )
    b = _bucket(
        salt, F.col(group_col).cast("string"), F.col(key_col).cast("string")
    )
    docs = docs.withColumn("_b", b)
    if prefilter:
        est = max(int(est_rows_per_group or 0), 1)
        thr = format(min(_HEX_SPACE - 1, int(4 * k / est * _HEX_SPACE)), "08x")
        under = docs.where(F.col("_b") < thr)
        # groups whose under-threshold slice is too small to be safe:
        # their true k smallest may include rows >= thr -> take them whole.
        # Counted over the FULL frame (conditional agg), not over `under`:
        # a group with ZERO under-threshold rows never appears in `under`,
        # so a groupBy there would silently drop it instead of re-admitting
        # it.  The agg partial-aggregates map-side — the shuffle carries
        # one row per (group, partition), not the corpus.
        unsafe = (
            docs.groupBy(group_col)
            .agg(
                F.sum(
                    F.when(F.col("_b") < thr, F.lit(1)).otherwise(F.lit(0))
                ).alias("_u")
            )
            .where(F.col("_u") < k)
            .select(F.col(group_col).alias("_ug"))
        )
        # eqNullSafe, NOT an equi-join on the name: a NULL group is a real
        # group (missing hosts), and plain join equality never matches
        # NULL = NULL — an unsafe NULL group would never re-admit and its
        # rows would silently vanish from the prefilter path only
        cond = F.col(group_col).eqNullSafe(F.col("_ug"))
        survivors = under.join(
            F.broadcast(unsafe), cond, "left_anti"
        ).unionByName(docs.join(F.broadcast(unsafe), cond, "left_semi"))
    else:
        survivors = docs
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy("_b", key_col)
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(*cols)
    )


def temperature_rates(
    counts: dict,
    temperature: float,
    target_fraction: float,
    clamp: bool,
) -> dict:
    """Per-domain keep/repeat rates for temperature mixing (pure driver
    math, factored out for direct property testing): with shares
    p_g = n_g/N, target mixture q_g ∝ p_g^temperature and
    r_g = q_g * target_fraction * N / n_g; ``clamp`` caps at 1.0 (the
    filter-only regime).  Invariants (property-tested):
    Σ_g r_g·n_g = target_fraction·N exactly when unclamped, and the rate
    ORDER is anti-monotone in domain size for temperature < 1."""
    n_total = sum(counts.values())
    weights = {g: (n / n_total) ** temperature for g, n in counts.items()}
    z = sum(weights.values())
    raw = {
        g: (weights[g] / z) * target_fraction * n_total / counts[g]
        for g in counts
    }
    return {g: min(1.0, r) for g, r in raw.items()} if clamp else raw


def temperature_mix(
    docs: DataFrame,
    domain_col: str,
    temperature: float,
    target_fraction: float = 1.0,
    key_col: str = "doc_id",
    salt: str = "mix",
    upsample: bool = False,
) -> DataFrame:
    """Rebalance the corpus across domains by temperature sampling (the
    Gopher/DoReMi mixing stage): with per-domain shares p_g, the target
    mixture is q_g ∝ p_g^temperature — tau < 1 flattens (up-weights rare
    domains, down-weights the dominant crawl), tau = 1 is identity,
    tau = 0 is uniform over domains.  Each domain is then kept at rate
    r_g = min(1, q_g * target_fraction * N / n_g) via the deterministic
    per-row hash coin, so membership is a pure function of
    (salt, domain, key) and the realized mixture tracks q_g exactly in
    expectation.  By default, domains that would need UP-sampling
    (r_g > 1) are kept whole — the operator filters, never duplicates.

    ``upsample=True`` is how real LLM mixes run (rare domains train for
    more than one epoch): each row is emitted ``floor(r_g)`` times plus
    one more with probability ``frac(r_g)`` via the same deterministic
    coin, as an ``epoch`` column (1..reps) — a pure codegen
    explode(sequence(...)), no Python, no shuffle; expected output share
    per domain is exactly q_g.

    Topology: one small groupBy-count (domain cardinality ~ 10^1-10^3),
    collected to the driver ONLY to compute the rate table (same
    discipline as k-means' O(k·dim) driver state), then one scan-local
    hash filter — a literal when-chain up to 64 domains (bare Project,
    zero exchange of any kind), a broadcast join against the tiny rate
    table past that (nested CaseWhen trees stress codegen at depth; the
    join is flat and still corpus-shuffle-free).  The corpus itself is
    read once with no shuffle either way.  Returns docs filtered, plus a
    ``mix_rate`` column recording each row's domain keep-rate for
    lineage."""
    assert temperature >= 0.0 and 0.0 < target_fraction <= 1.0
    helper = {"mix_rate", "_reps", "_thr", "_base", "_dom"} | (
        {"epoch"} if upsample else set()
    )
    assert not helper & set(docs.columns), (
        f"input columns collide with temperature_mix outputs: "
        f"{helper & set(docs.columns)}"
    )
    counts = {
        r[domain_col]: r["count"]
        for r in docs.groupBy(domain_col).count().collect()
    }
    rates = temperature_rates(
        counts, temperature, target_fraction, clamp=not upsample
    )
    table = []  # (domain, hexthr, rate, whole-epochs)
    for g, r in sorted(rates.items(), key=lambda kv: str(kv[0])):
        whole = int(r) if upsample else 0
        part = r - whole if upsample else r
        # coin fraction 1.0 keeps ALL rows: "g" sorts above every 8-char
        # hex string, so the comparison is vacuously true (a numeric
        # clamp to 0xffffffff would shave off the hash=="ffffffff" sliver)
        hexthr = (
            "g" if part >= 1.0
            else format(int(part * _HEX_SPACE), "08x")
        )
        table.append((g, hexthr, float(r), whole))
    if len(table) <= 64:
        # literal when-chains: keeps the corpus pass a bare scan-local
        # Project with ZERO exchange of any kind (plan-audited)
        thr = F.lit(None).cast("string")
        rate_col = F.lit(None).cast("double")
        base_col = F.lit(None).cast("int")
        for g, hexthr, r, whole in table:
            # eqNullSafe: web data has missing hosts — a plain == would
            # make NULL-domain rows match nothing and silently vanish;
            # they form their own mixing group like any other domain
            cond = F.col(domain_col).eqNullSafe(F.lit(g))
            thr = F.when(cond, F.lit(hexthr)).otherwise(thr)
            rate_col = F.when(cond, F.lit(r)).otherwise(rate_col)
            base_col = F.when(cond, F.lit(whole)).otherwise(base_col)
        mixed = docs.withColumn("mix_rate", rate_col)
    else:
        # past ~64 domains three N-deep nested CaseWhen trees stress the
        # analyzer/codegen (64KB generated-method limit); a broadcast
        # hash join against the O(#domains) rate table is flat, adds no
        # corpus-side exchange, and is null-safe on the key
        spark = docs.sparkSession
        rt = F.broadcast(
            spark.createDataFrame(
                table, f"_dom {docs.schema[domain_col].dataType.simpleString()},"
                " _thr string, mix_rate double, _base int"
            )
        )
        mixed = docs.join(
            rt, F.col(domain_col).eqNullSafe(F.col("_dom")), "left_outer"
        ).drop("_dom")
        thr, rate_col, base_col = (
            F.col("_thr"), F.col("mix_rate"), F.col("_base")
        )
    b = _bucket(
        salt, F.col(domain_col).cast("string"), F.col(key_col).cast("string")
    )
    if not upsample:
        return mixed.where(b < thr).drop("_thr", "_base")
    reps = base_col + F.when(b < thr, F.lit(1)).otherwise(F.lit(0))
    return (
        mixed.withColumn("_reps", reps)
        .where(F.col("_reps") >= 1)
        .select(
            "*",
            F.explode(F.sequence(F.lit(1), F.col("_reps"))).alias("epoch"),
        )
        .drop("_reps", "_thr", "_base")
    )


# --------------------------------------------------------------------- #
# driver-gated query + standalone DuckDB oracle
# --------------------------------------------------------------------- #

_W = (0.8, 0.1, 0.1)
_FRAC = 0.25


def q_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: its train/val/test assignment (80/10/10) and whether
    the lang-stratified 25% subsample keeps it — both as pure functions
    of (doc_id, lang) the oracle recomputes byte-for-byte."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    split = train_val_test_split(docs, weights=_W, salt="s1")
    sampled = stratified_sample(
        docs, _FRAC, strata_col="lang", salt="s2"
    ).select("doc_id", F.lit(True).alias("sampled"))
    return (
        split.join(sampled, "doc_id", "left_outer")
        .select(
            "doc_id",
            "split",
            F.coalesce("sampled", F.lit(False)).alias("sampled"),
        )
    )


def _split_sql() -> str:
    t1, t2 = _thresholds(_W)
    thr = format(int(_FRAC * _HEX_SPACE), "08x")
    return f"""
SELECT doc_id,
       CASE WHEN substr(md5('s1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t1}' THEN 'train'
            WHEN substr(md5('s1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8)
                 < '{t2}' THEN 'val'
            ELSE 'test' END AS split,
       substr(md5('s2' || '|' || lang || '|' || CAST(doc_id AS VARCHAR)),
              1, 8) < '{thr}' AS sampled
FROM documents
"""


SAMPLING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "corpus_split_sample": q_split_sample,
}

SAMPLING_ORACLES: dict[str, str] = {"corpus_split_sample": _split_sql()}
