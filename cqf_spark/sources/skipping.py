"""Sketch-backed data skipping: push ``cqf_contains`` into the scan.

The reference evaluates ``qf_count_key_value`` against one in-memory
filter (src/gqf.c:2018-2056).  At 100 TB the scan itself is the cost, so
the distributed analog of "probe before you touch the data" is FILE
PRUNING: keep one small CQF per parquet file (an index), and answer
``WHERE key IN (...)`` by probing the index first — only files whose
sketch admits at least one probed key are ever opened.  This is the
Iceberg/Delta bloom-column-index pattern, but the CQF gives three things
a bloom index does not:

* **counts** — the index answers "roughly how many rows per file match",
  not just membership (``key_counts_by_file``), so a planner can order
  or cap file reads;
* **mergeability** — per-file sketches tree-merge into coarser
  (directory / partition-level) sketches for a two-level prune, and an
  index built per-snapshot merges across snapshots;
* **no false negatives** — pruning is always safe; false positives
  (rate <= alpha * 2^-r) only open extra files, and the residual
  ``isin`` filter keeps the read exact.

Topology (all executor-side, nothing large on the driver):

* build: scan data once, map-side partial sketch per (task, file) —
  raw keys never shuffle — then one blob-only exchange merges partials
  per file (``build_sketches_grouped`` on ``input_file_name()``).
  Index size: one row per data file (~800k rows for 100 TB of 128 MB
  files) — itself a parquet table, read and probed distributed.
* probe: the (small) probe-key list is hashed ONCE on the driver and
  shipped in the task closure; each index row decodes its blob and
  answers in one vectorized ``count_hashes`` call; only
  ``(file, hit)`` strings are collected.  For probe sets too large to
  ship, use ``sketch_anti_join`` / ``ShardedCqf.count_join`` instead —
  this operator is for selective point/IN-list scans.
* files the index does not know (appended after the last
  ``update_index``) are ALWAYS read — absence of an index row proves
  nothing, so correctness never depends on index freshness; files the
  index knows but the dataset no longer has are ignored.

``read_pruned`` is exact end-to-end: pruning has no false negatives and
the residual filter removes false-positive files' rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict
from typing import Any, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from ..aggregator import (
    _cached_sketch,
    build_sketches_grouped,
    ensure_shipped,
    hash_arrow,
    tree_merge,
)
from ..config import CqfConfig, HashMode
from ..core import Cqf

_META_NAME = "index_meta.json"
_SKETCH_DIR = "file_sketches"


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _META_NAME)


def _sketches_path(index_dir: str) -> str:
    return os.path.join(index_dir, _SKETCH_DIR)


def _normalize(f: str) -> str:
    """``input_file_name()`` and ``DataFrame.inputFiles()`` both return
    URIs but may disagree on the scheme prefix for local paths."""
    return f[7:] if f.startswith("file://") else f


def _load_meta(index_dir: str) -> dict[str, Any]:
    with open(_meta_path(index_dir)) as fh:
        meta = json.load(fh)
    cfg = meta["config"]
    meta["config"] = CqfConfig(
        key_bits=cfg["key_bits"],
        value_bits=cfg["value_bits"],
        hash_mode=HashMode(cfg["hash_mode"]),
        seed=cfg["seed"],
    )
    return meta


def _probe_hashes(
    keys: Sequence[Any], config: CqfConfig
) -> tuple[pa.Array, np.ndarray]:
    """The probe list (small by contract) with nulls and NaN dropped, and
    its hashes, value-packed the way build_sketches packs content.  The
    list goes through Arrow, which keeps a null-bearing integer list
    int64; a pandas Series of it would be float64 and lose the low bits
    of keys at or above 2**53."""
    arr = pa.array(list(keys), from_pandas=True).drop_null()
    if len(arr) == 0:
        return arr, np.zeros(0, dtype=np.uint64)
    return arr, hash_arrow(arr, config) << np.uint64(config.value_bits)


def build_index(
    spark: Any,
    data_path: str,
    key_col: str,
    index_dir: str,
    config: CqfConfig | None = None,
) -> int:
    """Build the per-file CQF index for ``data_path`` from scratch.
    Returns the number of files indexed."""
    config = config or CqfConfig(key_bits=40, seed=7)
    df = spark.read.parquet(data_path)
    _index_files(spark, df, key_col, config, index_dir, mode="overwrite")
    meta = {
        "version": 1,
        "key_col": key_col,
        "config": asdict(config),
        "data_path": os.path.abspath(data_path),
    }
    os.makedirs(index_dir, exist_ok=True)
    tmp = _meta_path(index_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1, sort_keys=True)
    os.replace(tmp, _meta_path(index_dir))
    return spark.read.parquet(_sketches_path(index_dir)).count()


def update_index(spark: Any, data_path: str, index_dir: str) -> int:
    """Index only the files appended since the last build/update
    (the resumable path: an un-indexed file is still readable — it is
    simply never pruned — so updates can lag ingestion safely).
    Returns the number of NEW files indexed."""
    meta = _load_meta(index_dir)
    have = {
        _normalize(r["file"])
        for r in spark.read.parquet(_sketches_path(index_dir))
        .select("file")
        .collect()
    }
    df = spark.read.parquet(data_path)
    new = sorted(
        f for f in df.inputFiles() if _normalize(f) not in have
    )
    if not new:
        return 0
    # an explicit file-path read scans exactly those files
    fresh = spark.read.parquet(*new)
    _index_files(
        spark, fresh, meta["key_col"], meta["config"], index_dir,
        mode="append",
    )
    return len(new)


def _index_files(
    spark: Any,
    df: Any,
    key_col: str,
    config: CqfConfig,
    index_dir: str,
    mode: str,
) -> None:
    from pyspark.sql import functions as F

    ensure_shipped(spark)
    keyed = df.select(
        F.input_file_name().alias("_file"), F.col(key_col)
    )
    idx = (
        build_sketches_grouped(keyed, "_file", key_col, config)
        .withColumnRenamed("group", "file")
    )
    idx.write.mode(mode).parquet(_sketches_path(index_dir))


def prune_files(
    spark: Any,
    index_dir: str,
    keys: Sequence[Any],
    data_path: str | None = None,
) -> dict[str, Any]:
    """Which files can a ``key IN (...)`` scan skip?

    Returns ``{"read": [...], "skipped": [...], "unindexed": [...]}``
    where ``read`` = sketch-hit files plus every un-indexed file (when
    ``data_path`` is given), ``skipped`` = indexed files whose sketch
    PROVES no probed key is present (no false negatives => safe).
    """
    meta = _load_meta(index_dir)
    config: CqfConfig = meta["config"]
    h = np.unique(_probe_hashes(keys, config)[1])
    ensure_shipped(spark)
    idx = spark.read.parquet(_sketches_path(index_dir)).select(
        "file", "sketch"
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hits = []
            for blob in pdf["sketch"]:
                if h.size == 0:
                    hits.append(False)
                    continue
                sk = _cached_sketch(bytes(blob))
                hits.append(bool((sk.count_hashes(h) > 0).any()))
            yield pd.DataFrame({"file": pdf["file"], "hit": hits})

    rows = idx.mapInPandas(probe, "file string, hit boolean").collect()
    indexed = {_normalize(r["file"]): r["hit"] for r in rows}
    if data_path is not None:
        all_files = [
            _normalize(f)
            for f in spark.read.parquet(data_path).inputFiles()
        ]
    else:
        all_files = sorted(indexed)
    read, skipped, unindexed = [], [], []
    for f in sorted(all_files):
        if f not in indexed:
            unindexed.append(f)
            read.append(f)
        elif indexed[f]:
            read.append(f)
        else:
            skipped.append(f)
    return {"read": read, "skipped": skipped, "unindexed": unindexed}


def read_pruned(
    spark: Any,
    data_path: str,
    index_dir: str,
    keys: Sequence[Any],
) -> Any:
    """Exact ``SELECT * FROM data WHERE key IN (keys)`` that opens only
    the files the index cannot rule out.  Equal to the full-scan filter
    for ANY index state (stale, partial, or fresh) — staleness only
    costs extra files read, never rows."""
    from pyspark.sql import functions as F

    meta = _load_meta(index_dir)
    key_col = meta["key_col"]
    plan = prune_files(spark, index_dir, keys, data_path=data_path)
    probe_vals = [k for k in keys if k is not None]
    if not plan["read"] or not probe_vals:
        # schema-preserving empty result without opening any data file
        return (
            spark.read.parquet(data_path)
            .where(F.lit(False))
            .limit(0)
        )
    return spark.read.parquet(*plan["read"]).where(
        F.col(key_col).isin(probe_vals)
    )


def key_counts_by_file(
    spark: Any,
    index_dir: str,
    keys: Sequence[Any],
) -> Any:
    """Per-(file, key) approximate multiplicity from the index alone —
    no data file is opened.  Counts are exact within the CQF FP bound
    (overcount only when a foreign key collides in hash space, rate
    <= alpha * 2^-r; never an undercount).  DataFrame[file, key, count].
    """
    meta = _load_meta(index_dir)
    config: CqfConfig = meta["config"]
    probe, h = _probe_hashes(keys, config)
    key_strs = [str(k) for k in probe.to_pylist()]
    ensure_shipped(spark)
    idx = spark.read.parquet(_sketches_path(index_dir)).select(
        "file", "sketch"
    )

    def counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            files, ks, cs = [], [], []
            for file, blob in zip(pdf["file"], pdf["sketch"]):
                if h.size == 0:
                    continue
                sk = _cached_sketch(bytes(blob))
                c = sk.count_hashes(h).astype(np.int64)
                nz = np.nonzero(c)[0]
                files.extend([file] * len(nz))
                ks.extend(key_strs[i] for i in nz)
                cs.extend(int(c[i]) for i in nz)
            yield pd.DataFrame(
                {"file": files, "key": ks, "count": cs}
            )

    return idx.mapInPandas(counts, "file string, key string, count long")


def merged_index_sketch(spark: Any, index_dir: str) -> Cqf:
    """Tree-merge every per-file sketch into ONE dataset-level CQF —
    the two-level prune's top level (probe this first; only on a hit
    probe the per-file rows) and the cross-snapshot merge primitive
    (qf_multi_merge semantics, src/gqf.c:2479)."""
    idx = spark.read.parquet(_sketches_path(index_dir))
    n = idx.count()
    if n == 0:
        return Cqf.empty(_load_meta(index_dir)["config"], 6)
    return tree_merge(idx.select("sketch", "nelts", "ndistinct"), n_blobs=n)
