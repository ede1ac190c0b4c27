"""Resumable sketch builds: per-partition checkpoint + lineage manifest.

The reference persists one filter per file with a magic/version header
(qf_serialize / qf_usefile, src/gqf_file.c:88-168, 264-349); a distributed
build generalizes that to one *directory* of per-partition sketch files
plus a manifest recording lineage — which partition produced which blob,
from how many input rows, with what metadata counters, validated by a
murmur of the blob (the analog of the reference's magic+endianness check,
src/gqf_file.c:157-160).

Layout::

    {dir}/partials/epoch=K/*.parquet     # executor-written sketch rows
    {dir}/manifest.json                  # config + input signature +
                                         # per-partition lineage (no blobs)

Blobs never centralize on the driver (VERDICT r01 #8): executors write
each build epoch's partials as parquet, validation recomputes blob
murmurs executor-side, and the final merge is the ordinary blob tree
merge (<= fan_in blobs ever reach the driver).  The manifest holds only
lineage rows.

Resume contract: partitions whose stored blob validates against the
manifest are **skipped**; only missing/corrupt partitions rebuild (input
re-filtered by ``spark_partition_id``).  The signature covers the config,
columns, AND an input fingerprint (sorted file paths + sizes + mtimes) —
if the input changes, stored partials are invalidated rather than
silently reused (ADVICE r01).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict
from typing import Any

import pandas as pd

from .aggregator import build_sketches, plan_partitions, tree_merge
from .config import CqfConfig
from .core import Cqf
from .functions.hashing import fingerprint_bytes


def _manifest_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "manifest.json")


def _partials_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "partials")


def _input_signature(df: Any) -> list[list[Any]]:
    """Fingerprint of the physical input: sorted (path, size, mtime_ns).
    Non-file sources (pure in-memory DataFrames) contribute no files and
    fall back to the logical-plan column shape only."""
    sig = []
    for f in sorted(df.inputFiles()):
        p = f[7:] if f.startswith("file://") else f
        try:
            st = os.stat(p)
            sig.append([f, st.st_size, st.st_mtime_ns])
        except OSError:
            sig.append([f, -1, -1])
    return sig


class CheckpointedBuild:
    """Orchestrates a resumable distributed CQF build."""

    def __init__(self, spark: Any, ckpt_dir: str):
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        os.makedirs(ckpt_dir, exist_ok=True)

    # -- lineage -----------------------------------------------------------
    def _load_manifest(self) -> dict[str, Any] | None:
        try:
            with open(_manifest_path(self.ckpt_dir)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _write_manifest(self, manifest: dict[str, Any]) -> None:
        tmp = _manifest_path(self.ckpt_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, _manifest_path(self.ckpt_dir))

    def _stored_hashes(self) -> dict[tuple[int, int], int]:
        """(part_id, epoch) -> recomputed blob murmur for every stored
        partial — computed executor-side, only the small hash rows are
        collected."""
        path = _partials_path(self.ckpt_dir)
        if not os.path.isdir(path):
            return {}

        def hash_rows(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "part_id": pdf["part_id"],
                        "epoch": pdf["epoch"],
                        "blob_hash": [
                            fingerprint_bytes(bytes(b)) for b in pdf["sketch"]
                        ],
                    }
                )

        try:
            df = self.spark.read.parquet(path)
        except Exception:
            return {}
        rows = (
            df.select("part_id", "epoch", "sketch")
            .mapInPandas(hash_rows, "part_id int, epoch int, blob_hash long")
            .collect()
        )
        return {(r["part_id"], r["epoch"]): r["blob_hash"] for r in rows}

    def metrics_df(self) -> Any:
        """Per-partition lineage/metrics as a DataFrame (the cluster-scale
        analog of qf_get_num_occupied_slots & friends, src/gqf.c:2134-2186)."""
        manifest = self._load_manifest()
        if manifest is None:
            raise FileNotFoundError("no manifest yet")
        return self.spark.createDataFrame(manifest["partitions"])

    # -- build -------------------------------------------------------------
    def aggregate(
        self,
        df: Any,
        key_col: str,
        config: CqfConfig,
        count_col: str | None = None,
        value_col: str | None = None,
    ) -> Cqf:
        """Build (or resume) the distributed sketch.

        1. If a manifest exists with the same config + column + INPUT
           signature, validate stored partials (blob murmur, executor-side)
           and rebuild only missing/corrupt partitions.
        2. Executors write the new epoch's partials as parquet; the driver
           writes only the lineage manifest.
        3. Merge all validated partials (qf_multi_merge semantics).
        """
        from pyspark.sql import functions as F

        sig = {
            "config": asdict(config),
            "key_col": key_col,
            "count_col": count_col,
            "value_col": value_col,
            "input": _input_signature(df),
        }
        manifest = self._load_manifest()
        valid: dict[int, int] = {}  # part_id -> epoch
        partial_rows: list[dict[str, Any]] = []
        next_epoch = 0
        n_parts_hint = None
        if manifest is not None and manifest.get("signature") == sig:
            stored = self._stored_hashes()
            for r in manifest["partitions"]:
                key = (int(r["part_id"]), int(r["epoch"]))
                if stored.get(key) == r["blob_hash"]:
                    valid[key[0]] = key[1]
                    partial_rows.append(r)
            next_epoch = manifest.get("next_epoch", 0)
            n_parts_hint = manifest.get("n_partitions")

        probe = build_sketches(
            df, key_col, config, count_col=count_col, value_col=value_col
        )
        # resume needs the exact count: a partial past it would never be
        # rebuilt.  The plan states it for scans, caches and explicit
        # repartitions (ensure_parallelism's included); an exchange AQE may
        # re-plan only states its count once it has run.
        planned = plan_partitions(probe)
        n_parts = (
            planned.n if planned.exact else probe.rdd.getNumPartitions()
        )
        if n_parts_hint is not None and n_parts_hint != n_parts:
            valid, partial_rows = {}, []  # input shape changed: full rebuild

        missing = sorted(set(range(n_parts)) - set(valid))
        t0 = time.time()
        if missing:
            built = build_sketches(
                df,
                key_col,
                config,
                count_col=count_col,
                value_col=value_col,
                partition_filter=None if len(missing) == n_parts else missing,
            ).where(F.col("part_id") >= 0)
            epoch_dir = os.path.join(
                _partials_path(self.ckpt_dir), f"epoch={next_epoch}"
            )
            # executors write the blobs; nothing large touches the driver
            built.write.mode("overwrite").parquet(epoch_dir)
            lineage = (
                self.spark.read.parquet(epoch_dir).drop("sketch").collect()
            )
            built_pids = set()
            for r in lineage:
                d = r.asDict()
                d["epoch"] = next_epoch
                partial_rows.append(d)
                valid[int(d["part_id"])] = next_epoch
                built_pids.add(int(d["part_id"]))
            # EMPTY partitions produce no parquet row (their part_id=-1
            # markers are filtered above) — without a manifest row they
            # would re-enter `missing` forever: every later aggregate()
            # on unchanged input would re-scan, write a zero-row epoch
            # and rewrite the manifest.  Record them as validated empties
            # (blob_hash None validates trivially: _stored_hashes has no
            # entry for them either).
            for pid in missing:
                if pid not in built_pids:
                    partial_rows.append(
                        {
                            "part_id": pid, "epoch": next_epoch,
                            "nelts": 0, "ndistinct": 0, "noccupied": 0,
                            "qbits": 0, "load": 0.0, "n_rows": 0,
                            "build_s": 0.0, "blob_hash": None,
                        }
                    )
                    valid[pid] = next_epoch
            self._write_manifest(
                {
                    "signature": sig,
                    "n_partitions": n_parts,
                    "next_epoch": next_epoch + 1,
                    "built_rows": sum(r["n_rows"] for r in partial_rows),
                    "resumed_partitions": n_parts - len(missing),
                    "rebuilt_partitions": len(missing),
                    "build_wall_s": time.time() - t0,
                    "partitions": sorted(
                        partial_rows, key=lambda r: r["part_id"]
                    ),
                }
            )
            self._prune_unreferenced(set(valid.values()))

        # merge every validated (part_id, epoch) blob — executor-side
        # tree.  Validated EMPTIES have no blob row (the join drops
        # them); an all-empty input merges to the canonical empty sketch
        # instead of crashing the parquet read / tree merge.
        has_blob = {
            r["part_id"] for r in partial_rows if r["blob_hash"] is not None
        }
        pairs = [
            [pid, ep] for pid, ep in sorted(valid.items()) if pid in has_blob
        ]
        if not pairs:
            from .core import Cqf

            return Cqf.empty(config, 6)
        all_partials = self.spark.read.parquet(_partials_path(self.ckpt_dir))
        keep = self.spark.createDataFrame(pairs, "part_id int, epoch int")
        chosen = all_partials.join(F.broadcast(keep), ["part_id", "epoch"])
        # blob count is known exactly here; tree_merge must not infer it
        # from the parquet split count (review r5: 100k blobs compacting
        # into a few files would skip the executor rounds and collect
        # everything onto the driver)
        return tree_merge(chosen, n_blobs=len(pairs))

    def _prune_unreferenced(self, live_epochs: set[int]) -> None:
        """Drop epoch directories no manifest row references."""
        root = _partials_path(self.ckpt_dir)
        if not os.path.isdir(root):
            return
        for name in os.listdir(root):
            if name.startswith("epoch="):
                try:
                    ep = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if ep not in live_epochs:
                    shutil.rmtree(os.path.join(root, name), ignore_errors=True)
