"""Distributed build/merge harness shared by the whole sketch family.

Same topology as the CQF aggregator (SURVEY.md §3.3): per-partition
partial sketches via ``mapInPandas`` (Arrow batches, vectorized update),
then ``applyInPandas`` fan-in rounds while the partial count is large,
then one k-way ``merge_many`` of the collected blobs.  Only serialized
sketches cross process boundaries; raw values never shuffle.

``kind`` selects the input transform:
  * ``"hash"``   — Murmur64A of the column (strings/bytes or integers),
                   for HLL / count-min / Bloom;
  * ``"numeric"``— raw float64 values, for t-digest / KLL.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from ..functions.hashing import murmur64a_arrow, murmur64a_u64
from .base import Sketch, from_bytes

DEFAULT_HASH_SEED = 42


def hash_any_series(s: pd.Series, seed: int = DEFAULT_HASH_SEED) -> np.ndarray:
    """Murmur64A over a column of any type: utf-8 bytes for strings/objects
    (Arrow-buffer direct, no per-row Python), 8-byte LE words for
    integers/floats (matching the CQF key path)."""
    if s.dtype == object or pd.api.types.is_string_dtype(s.dtype):
        import pyarrow as pa

        return murmur64a_arrow(pa.Array.from_pandas(s.fillna("")), seed)
    arr = s.to_numpy()
    if arr.dtype.kind == "f":
        arr = arr.astype(np.int64)
    return murmur64a_u64(arr.astype(np.int64).view(np.uint64), seed)


def numeric_series(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.float64, na_value=np.nan)


def build_sketch_partials(
    df: Any,
    col: str,
    factory: Callable[[], Sketch],
    kind: str = "hash",
    seed: int = DEFAULT_HASH_SEED,
    count_col: str | None = None,
) -> Any:
    """DataFrame -> one serialized partial sketch per partition."""
    from ..aggregator import ensure_parallelism, ensure_shipped

    ensure_shipped(df.sparkSession)
    cols = [col] + ([count_col] if count_col else [])
    pruned = ensure_parallelism(df.select(*cols))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sk = factory()
        for pdf in batches:
            if pdf.empty:
                continue
            vals = (
                hash_any_series(pdf[col], seed)
                if kind == "hash"
                else numeric_series(pdf[col])
            )
            counts = (
                pdf[count_col].to_numpy(dtype=np.int64) if count_col else None
            )
            sk.update(vals, counts)
        yield pd.DataFrame({"sketch": [sk.to_bytes()]})

    return pruned.mapInPandas(build, schema="sketch binary")


def merge_partials(partials: Any, fan_in: int = 64) -> Sketch:
    """applyInPandas fan-in rounds while > fan_in partials remain, then one
    driver-side k-way merge (mirrors aggregator.tree_merge)."""
    from pyspark.sql import functions as F

    from ..aggregator import plan_partitions

    df = partials.select("sketch")
    n = plan_partitions(df).n

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sks = [from_bytes(bytes(b)) for b in pdf["sketch"]]
        return pd.DataFrame({"sketch": [Sketch.merge_many(sks).to_bytes()]})

    while n > fan_in:
        n_groups = int(math.ceil(n / fan_in))
        df = (
            df.withColumn(
                "g", F.pmod(F.monotonically_increasing_id(), F.lit(n_groups))
            )
            .groupBy("g")
            .applyInPandas(merge_group, schema="sketch binary")
        )
        n = n_groups

    blobs = [bytes(r[0]) for r in df.collect()]
    if not blobs:
        raise ValueError("no partial sketches (empty input)")
    return Sketch.merge_many([from_bytes(b) for b in blobs])


def sketch_aggregate(
    df: Any,
    col: str,
    factory: Callable[[], Sketch],
    kind: str = "hash",
    seed: int = DEFAULT_HASH_SEED,
    count_col: str | None = None,
) -> Sketch:
    return merge_partials(
        build_sketch_partials(df, col, factory, kind, seed, count_col)
    )
