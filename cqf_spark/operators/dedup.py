"""Deduplication operators for training-data pipelines.

Five families, all Spark-first:

* exact            — hash groupBy on normalized text (one shuffle)
* n-gram Jaccard   — exact pairwise similarity via a shingle inverted-
                     index self-join (native joins/aggs, no Python)
* MinHash + LSH    — vectorized per-partition signatures (no shuffle of
                     shingles), band-bucket self-join, exact verification
* SimHash          — 64-bit signatures + pigeonhole chunk banding for
                     hamming <= k candidate pairs
* embedding cosine — see ann.py (shares the vector kernels)

Scale notes: signatures are computed row-local inside ``mapInPandas``
(a document's shingles never shuffle); only (id, signature/band) rows —
a few hundred bytes per doc — reach the joins.  The band self-join is the
standard LSH shuffle; bucket skew is bounded because band hashes are
uniform.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..aggregator import ensure_shipped
from ..functions.hashing import (
    murmur64a_bytes,
    murmur64a_concat,
    murmur64a_u64,
    space_token_hashes,
    space_token_spans,
)

def word_shingles(tokens: list[str], n: int) -> list[str]:
    return [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]


def _doc_shingle_hashes(
    texts: pd.Series, n: int, seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All shingle hashes of a batch, vectorized: because split(" ") tokens
    are single-space separated in the source bytes, the n-token shingle
    starting at token t IS the contiguous byte span
    ``[tok_start_byte[t], tok_end_byte[t+n-1])`` — shingle strings are
    never built.  Duplicate shingles are kept (min over a multiset equals
    min over its set, so MinHash is unchanged); docs with < n tokens
    produce no shingles (matches the SQL oracle's range()).

    Returns ``(h, seg, nsh)``: shingle hashes (docs contiguous), each
    doc's first-shingle index, and each doc's shingle count.
    """
    flat, tstarts, tends, tok_start, ntok = space_token_spans(texts)
    nsh = np.maximum(ntok - n + 1, 0)
    seg = np.cumsum(nsh) - nsh
    total = int(nsh.sum())
    if total == 0:
        return np.empty(0, np.uint64), seg, nsh
    # global token index of each shingle's first token: for doc d the
    # shingles start at tokens tok_start[d] .. tok_start[d]+nsh[d]-1.
    # bincount (not assignment): zero-shingle docs repeat boundary values
    b = seg[1:]
    doc_of = np.cumsum(np.bincount(b[b < total], minlength=total)[:total])
    t = (np.arange(total) - seg[doc_of]) + tok_start[doc_of]
    h = murmur64a_concat(flat, tstarts[t], tends[t + n - 1] - tstarts[t], seed)
    return h, seg, nsh


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    shingle_n: int = 3,
    seed: int = 0x51,
) -> DataFrame:
    """(id, sig: array<long>[num_perm]) — one vectorized pass per batch;
    a document's shingles never leave the partition."""
    ensure_shipped(docs.sparkSession)

    def sig_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            h, seg, nsh = _doc_shingle_hashes(pdf[text_col], shingle_n, seed)
            sigs = np.empty((len(pdf), num_perm), dtype=np.int64)
            valid = nsh > 0
            red_at = seg[valid]  # strictly increasing, all < h.size
            for i in range(num_perm):
                # permutation i = an independently seeded murmur of the
                # base shingle hash (6 vector ops), min-folded per doc
                ph = murmur64a_u64(h, seed + 1 + i) >> np.uint64(1)
                mins = np.full(len(pdf), (1 << 63) - 1, dtype=np.uint64)
                if ph.size:
                    mins[valid] = np.minimum.reduceat(ph, red_at)
                sigs[:, i] = mins.astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col], "sig": list(sigs)})

    return docs.select(id_col, text_col).mapInPandas(
        sig_batch, schema=f"{id_col} long, sig array<long>"
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Band the signatures and self-join buckets -> candidate (i, j) pairs.

    rows-per-band r = num_perm/bands; detection prob of a pair with
    Jaccard j is 1-(1-j^r)^bands (r=4, bands=32: ~1-5e-8 at j=0.8)."""
    r = num_perm // bands
    band_cols = [
        F.hash(F.slice("sig", i * r + 1, r), F.lit(i)).alias("bh")
        for i in range(bands)
    ]
    buckets = sig_df.select(
        id_col,
        F.posexplode(F.array(*band_cols)).alias("band", "bh"),
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("i"), F.col(f"b.{id_col}").alias("j")
        )
        .distinct()
    )


def shingle_array(text: Column, n: int = 3) -> Column:
    """The distinct word n-grams of ``text`` as one array<string>: split on
    single spaces, n-grams joined by one space (the SQL oracle's
    ``string_split(text, ' ')`` rule).  Docs with < n tokens give an empty
    array — matching both the MinHash signature path and the oracle's
    range() (ADVICE r01)."""
    toks = F.split(text, " ")
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) rows via native array ops (codegen)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(shingle_array(F.col(text_col), n)).alias("g"),
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing >= 1 shingle: inverted-
    index self-join -> per-pair intersection counts -> |A|+|B|-inter.
    Native joins/aggs only; returns (i, j, jac)."""
    sh = shingle_df(docs, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("i"), F.col("sz").alias("na"))
    sb = sizes.select(F.col("id").alias("j"), F.col("sz").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            "j",
            (
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jac"),
        )
        .where(F.col("jac") >= threshold)
    )


def exact_substring_spans(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate detection (the ExactSubstr stage of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): every k-token window that occurs more than once in the
    corpus marks a duplicated region at all its occurrences EXCEPT the
    canonical first (smallest (doc, pos)); per document, overlapping or
    adjacent marked windows are merged into token-index spans
    ``[span_start, span_end)`` the caller can cut out.

    Scale shape (the suffix-array of the paper re-expressed as one
    aggregation): window TEXT never shuffles — each occurrence is reduced
    to (id, pos, h1, h2) where (h1, h2) is a 128-bit double xxhash64 of
    the window (two independent salts; corpus-level collision probability
    ~n^2/2^129, negligible even at 10^12 windows, vs certain collisions
    at 64 bits).  One groupBy on the fingerprint computes (count,
    first-occurrence) with map-side partial aggregation — a boilerplate
    window repeated 10^9 times is ONE group whose aggregate is 24 bytes —
    and only the duplicate starts (corpus dup fraction, not corpus size)
    reach the per-document span merge."""
    toks = F.split(F.col(text_col), " ")
    wins = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.when(
                F.size(toks) < k, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
                )
            )
        ).alias("_pos", "_w"),
    )
    keyed = wins.select(
        "_id",
        "_pos",
        F.xxhash64("_w").alias("_h1"),
        F.xxhash64(F.lit(1), "_w").alias("_h2"),
    )
    # r6 single-expansion guarantee (guide §2.4 — share one exchange):
    # both consumers of the fingerprints (the duplicate-count aggregation
    # and the occurrence join) hang off ONE explicit repartition by the
    # fingerprint, so the k-token window materialization (the expensive
    # array_join/slice Generate) runs exactly once and its 28-byte rows
    # shuffle exactly once; the r5 plan re-expanded every window a second
    # time on the join's probe side.
    keyed = keyed.repartition(F.col("_h1"), F.col("_h2"))
    grp = keyed.groupBy("_h1", "_h2").agg(
        F.count("*").alias("_n"),
        F.min(F.struct("_id", "_pos")).alias("_first"),
    )
    dups = (
        keyed.join(grp.where(F.col("_n") > 1), ["_h1", "_h2"])
        .where(
            ~(
                (F.col("_id") == F.col("_first._id"))
                & (F.col("_pos") == F.col("_first._pos"))
            )
        )
        .select("_id", "_pos")
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    flagged = dups.select(
        "_id",
        "_pos",
        F.when(F.col("_pos") - F.lag("_pos").over(w) <= k, F.lit(0))
        .otherwise(F.lit(1))
        .alias("_new"),
    )
    islands = flagged.withColumn(
        "_isl",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("_id", "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + k).alias("span_end"),
        )
        .select(F.col("_id").alias(id_col), "span_start", "span_end")
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply :func:`exact_substring_spans` output: remove every token
    whose index falls inside one of the document's spans and reassemble
    the text (the Lee et al. cut step).  Documents without spans pass
    through untouched.

    Scale shape: spans aggregate to ONE array per affected document
    (span count per doc is small by construction — they are merged
    intervals), one left join, and the cut itself is a codegen
    filter-by-position over the token array — no Python."""
    agg = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(F.col(text_col), " ")
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(0), F.size(toks) - 1),
        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
    )
    keep = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s.i >= sp.span_start) & (s.i < sp.span_end),
        ),
    )
    cut = F.array_join(F.transform(keep, lambda s: s.t), " ")
    return docs.join(agg, id_col, "left_outer").select(
        *[c for c in docs.columns if c != text_col],
        F.when(F.col("_spans").isNull(), F.col(text_col))
        .otherwise(cut)
        .alias(text_col),
    )


def exact_jaccard_pairs_filtered(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold with prefix + length filtering
    (the SSJoin/PPJoin discipline) — identical output to
    :func:`exact_jaccard_pairs`, the declared naive baseline, but built
    for scale: instead of self-joining the FULL inverted index (quadratic
    in the hottest shingle's document frequency), only each doc's
    *prefix* is indexed.

    Completeness (why no pair is lost): order every doc's shingles by the
    global canonical order (document frequency asc, shingle asc — rarest
    first).  For J(A,B) >= t, |A∩B| >= ceil(t·|A|).  Let w be the
    canonically smallest common shingle; since all |A∩B| common shingles
    rank at or after w inside A, w's rank in A is <= |A| - ceil(t·|A|)
    + 1 — i.e. w lies in A's prefix of that length, and symmetrically in
    B's.  So every qualifying pair collides on at least one indexed
    prefix shingle, and the exact verification join (candidates only —
    the same shape MinHash-LSH uses) recovers the exact Jaccard.  The
    length filter t·|A| <= |B| <= |A|/t is applied inside the candidate
    join.  Hot common shingles are the LAST in the canonical order, so
    they are indexed by almost no doc — exactly the rows the naive join
    blows up on.  Epsilon guards on the float bounds only ever LENGTHEN
    a prefix / widen the filter (extra candidates are verified away;
    a shortened prefix could lose pairs).

    Returns (i, j, jac), bit-identical to the naive baseline (unit-
    proven)."""
    sh = shingle_df(docs, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    freq = sh.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
    ranked = (
        sh.join(freq, "g")
        .select("id", "g", F.row_number().over(w).alias("pos"))
        .join(sizes, "id")
    )
    eps = 1e-9
    prefix = ranked.where(
        F.col("pos")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - eps) + 1
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - eps)
            & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - eps),
        )
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .distinct()
    )
    af = sh.select(F.col("id").alias("i"), "g")
    bf = sh.select(F.col("id").alias("j"), "g")
    inter = (
        cand.join(af, "i")
        .join(bf, ["j", "g"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("i"), F.col("sz").alias("na"))
    sb = sizes.select(F.col("id").alias("j"), F.col("sz").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .select(
            "i",
            "j",
            (
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jac"),
        )
        .where(F.col("jac") >= threshold)
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 0x51,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidate
    pairs -> EXACT Jaccard verification of candidates only (the standard
    'verify survivors' discipline).  Output (i, j, jac >= threshold).

    Docs with fewer than ``shingle_n`` tokens are dropped first: they have
    no shingle, so they pair with nothing, yet their all-sentinel
    signatures would collide in every band (k of them cost k(k-1)/2
    candidates).  The signature frame is persisted because the band
    self-join reads it on both sides.  Verification joins each candidate
    (i, j) to its two texts and compares the two distinct-shingle arrays
    in one codegen ``select`` (``array_intersect``): the strings are
    compared exactly, no shingle row is exploded and no Python runs.  No
    broadcast hint on the text side: it is the corpus, so AQE picks the
    join strategy from runtime sizes."""
    toks = F.split(F.col(text_col), " ")
    docs = docs.select(id_col, text_col).where(F.size(toks) >= shingle_n)
    sigs = minhash_signatures(
        docs, id_col, text_col, num_perm, shingle_n, seed
    ).persist()
    cand = lsh_candidate_pairs(sigs, id_col, num_perm, bands)

    def text_as(side: str) -> DataFrame:
        return docs.select(
            F.col(id_col).alias(side), F.col(text_col).alias(f"t{side}")
        )

    grams = cand.join(text_as("i"), "i").join(text_as("j"), "j").select(
        "i",
        "j",
        shingle_array(F.col("ti"), shingle_n).alias("ga"),
        shingle_array(F.col("tj"), shingle_n).alias("gb"),
    )
    sizes = grams.select(
        "i",
        "j",
        F.size(F.array_intersect("ga", "gb")).alias("inter"),
        (F.size("ga") + F.size("gb")).alias("n"),
    )
    inter = F.col("inter")
    return sizes.select(
        "i", "j", F.when(inter > 0, inter / (F.col("n") - inter)).alias("jac")
    ).where(F.col("jac") >= threshold)


# ------------------------------------------------------------------ #
# SimHash
# ------------------------------------------------------------------ #

def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0x51A,
) -> DataFrame:
    """64-bit SimHash of the token multiset (Charikar 2002): sum +-1 per
    bit over token hashes, sign -> bit.  Fully vectorized: one flat
    tokenize+hash pass for the batch, then one 1-D reduceat per bit plane
    (sum of +-1 over a doc > 0  <=>  2*ones > ntok) — no per-doc Python
    and no (n_tokens, 64) 2-D broadcast."""
    ensure_shipped(docs.sparkSession)

    def sims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            th, tok_start, ntok = space_token_hashes(pdf[text_col], seed)
            out = np.zeros(len(pdf), dtype=np.uint64)
            for b in range(64):
                ones = np.add.reduceat(
                    ((th >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                    tok_start,
                )
                out |= ((2 * ones) > ntok).astype(np.uint64) << np.uint64(b)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": out.astype(np.int64)}
            )

    return docs.select(id_col, text_col).mapInPandas(
        sims, schema=f"{id_col} long, simhash long"
    )


def simhash_pairs(
    sig_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Pairs with hamming distance <= max_hamming via pigeonhole banding:
    split 64 bits into max_hamming+1 chunks; any close pair must agree on
    at least one chunk (candidate join), then exact popcount verify.

    **Scale bound (read before raising the corpus size):** with k =
    max_hamming+1 bands of width w = 64//k bits, two UNRELATED documents
    collide in one band with probability ~2^-w, so the expected random
    candidate count is ~k * n^2 / 2^(w+1) — at the default w=16 that is
    ~n^2/2^15 pairs, which stays sub-linear-per-doc only up to n ~ 10^8
    documents.  Beyond that, use :func:`simhash_signatures_wide` +
    :func:`simhash_pairs_wide` — 128-bit signatures banded on chunk
    PAIRS (32-bit keys, ~28*n^2/2^33 random candidates, sub-linear to
    ~10^10 docs); or (c) shard the corpus per-shard + cross-shard.  The
    verify stage is cheap (one XOR+popcount per candidate); it is the
    candidate JOIN's shuffle that grows quadratically.  A seeded unit
    test (tests/test_round3.py::test_simhash_candidate_bound) pins the
    candidate count against this bound so a banding regression is caught
    at test scale."""
    cand = simhash_candidates(sig_df, id_col, max_hamming)
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select("i", "j", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def simhash_candidates(
    sig_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Banded candidate pairs (i, j, sa, sb) before the exact hamming
    verify — exposed separately so tests can pin the candidate count
    against the ~k*n^2/2^(w+1) random-collision bound documented on
    :func:`simhash_pairs`."""
    k = max_hamming + 1
    width = 64 // k
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        ).alias("ch")
        for i in range(k)
    ]
    buckets = sig_df.select(
        id_col, "simhash", F.posexplode(F.array(*chunks)).alias("band", "ch")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("i"),
            F.col(f"b.{id_col}").alias("j"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )


# ------------------------------------------------------------------ #
# SimHash-128: the >10^8-doc scale path documented on simhash_pairs
# ------------------------------------------------------------------ #

def simhash_signatures_wide(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0x51A,
) -> DataFrame:
    """128-bit SimHash as two independent 64-bit planes (token hashes
    under two seeds) — option (a) of the scale bound on
    :func:`simhash_pairs`.  Emits (id, sim_lo, sim_hi); same 1-D reduceat
    construction per plane, no 2-D broadcast."""
    ensure_shipped(docs.sparkSession)

    def plane(texts: pd.Series, s: int) -> np.ndarray:
        th, tok_start, ntok = space_token_hashes(texts, s)
        out = np.zeros(len(texts), dtype=np.uint64)
        for b in range(64):
            ones = np.add.reduceat(
                ((th >> np.uint64(b)) & np.uint64(1)).astype(np.int64),
                tok_start,
            )
            out |= ((2 * ones) > ntok).astype(np.uint64) << np.uint64(b)
        return out

    def sims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sim_lo": plane(pdf[text_col], seed).astype(np.int64),
                    "sim_hi": plane(
                        pdf[text_col], seed ^ 0x9E3779B9
                    ).astype(np.int64),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        sims, schema=f"{id_col} long, sim_lo long, sim_hi long"
    )


def simhash_pairs_wide(
    sig_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Hamming <= max_hamming pairs over 128-bit signatures via
    CHUNK-PAIR banding — the wider-prefix scheme from the
    :func:`simhash_pairs` scale bound.

    128 bits split into 8 chunks of 16; a pair within hamming 3 has at
    most 3 differing chunks, so at least one of the C(8,2)=28 chunk
    PAIRS matches on both members (pigeonhole on C(5,2) >= 1).  Each
    band key is 32 bits, so expected random candidates are
    ~28 * n^2 / 2^33 — sub-linear-per-doc to ~10^10 documents, vs
    ~n^2/2^15 for the 64-bit single-chunk scheme.  Exact popcount
    verification over both words follows, as always.
    """
    words = [(F.col("sim_lo"), 0), (F.col("sim_hi"), 4)]
    chunks = []
    for w, base in words:
        for i in range(4):
            chunks.append(
                F.shiftrightunsigned(w, i * 16).bitwiseAND(F.lit(0xFFFF))
            )
    combos = [
        (chunks[a].bitwiseAND(F.lit(0xFFFF)) * F.lit(65536) + chunks[b]).alias("ch")
        for a in range(8)
        for b in range(a + 1, 8)
    ]
    buckets = sig_df.select(
        id_col,
        "sim_lo",
        "sim_hi",
        F.posexplode(F.array(*combos)).alias("band", "ch"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("i"),
            F.col(f"b.{id_col}").alias("j"),
            F.col("a.sim_lo").alias("la"),
            F.col("a.sim_hi").alias("ha"),
            F.col("b.sim_lo").alias("lb"),
            F.col("b.sim_hi").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))) + F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    )
    return cand.select("i", "j", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
