"""Structured Streaming: incremental CQF maintenance.

The reference's closest analog is lock-guarded concurrent insert
(src/gqf.c:146-244) — a single filter mutated by many writers, with O(1)
amortized splice per insert.  The Spark-native form keeps the same
amortized cost model with a two-level (LSM-style) running state:

* **delta** — a small sketch absorbing recent micro-batches; merging a
  batch costs O(|delta| + |batch|), proportional to batch size while the
  delta stays small;
* **base**  — the large immutable sketch; the delta compacts into it only
  when it has grown to a fixed fraction of the base, so the O(|base|)
  rebuild is amortized over the many batches that filled the delta —
  exactly the amortization discipline of the reference's auto-resize
  doubling (src/gqf.c:1819-1914).

CQF counts are additive across the two levels (qf_merge semantics), so
``current()`` is simply base ⊎ delta.

Exactly-once across restarts: foreachBatch may redeliver a batch after a
crash, so the state carries the last applied batch id — and the WHOLE
state (meta + base + delta) commits in ONE file with ONE atomic rename
(ADVICE r01: two separate renames could leave the sketch updated but the
watermark stale, double-counting the replayed batch).

Usage::

    b = StreamingSketchBuilder(cfg, "/ckpt/tokens")
    q = b.attach(stream_df, key_col="token")   # returns StreamingQuery
    q.awaitTermination()
    sketch = b.current()
"""

from __future__ import annotations

import json
import os
import struct
from typing import Any

from .aggregator import build_sketches, ensure_shipped, tree_merge
from .config import CqfConfig
from .core import Cqf

_STATE_MAGIC = b"CQFSTRM2"
# compact when the delta reaches this fraction of the base (amortizes the
# O(|base|) merge over ~1/_COMPACT_FRACTION of the base's worth of input)
_COMPACT_FRACTION = 0.25


class StreamingSketchBuilder:
    def __init__(self, config: CqfConfig, state_dir: str):
        self.config = config
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    @property
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "state.cqfstream")

    # -- single-file atomic state ----------------------------------------
    def _load_state(self) -> tuple[dict[str, Any], Cqf | None, Cqf | None]:
        try:
            with open(self._state_path, "rb") as f:
                raw = f.read()
        except OSError:
            return (
                {"last_batch_id": -1, "batches": 0, "rows": 0, "compactions": 0},
                None,
                None,
            )
        if raw[:8] != _STATE_MAGIC:
            raise ValueError("corrupt stream state: bad magic")
        mlen, blen, dlen = struct.unpack_from("<QQQ", raw, 8)
        off = 8 + 24
        meta = json.loads(raw[off : off + mlen])
        off += mlen
        base = Cqf.from_bytes(raw[off : off + blen]) if blen else None
        off += blen
        delta = Cqf.from_bytes(raw[off : off + dlen]) if dlen else None
        return meta, base, delta

    def _commit(
        self, meta: dict[str, Any], base: Cqf | None, delta: Cqf | None
    ) -> None:
        mb = json.dumps(meta).encode()
        bb = base.to_bytes() if base is not None else b""
        db = delta.to_bytes() if delta is not None else b""
        tmp = self._state_path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(_STATE_MAGIC)
            f.write(struct.pack("<QQQ", len(mb), len(bb), len(db)))
            f.write(mb)
            f.write(bb)
            f.write(db)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._state_path)  # the ONE commit point

    # -- public surface ----------------------------------------------------
    def current(self) -> Cqf | None:
        """The running sketch (None before the first batch commits).
        Materializes base ⊎ delta — an O(N) read, paid on reads, never
        per batch."""
        _meta, base, delta = self._load_state()
        if base is None:
            return delta
        if delta is None:
            return base
        return base.merge(delta)

    def meta(self) -> dict[str, Any]:
        return self._load_state()[0]

    def process_batch(self, batch_df: Any, batch_id: int, key_col: str) -> None:
        """foreachBatch body — also callable directly for testing.

        Cost: O(|batch| + |delta|) per batch, plus an O(|base|) compaction
        amortized over the batches that filled the delta."""
        meta, base, delta = self._load_state()
        if batch_id <= meta["last_batch_id"]:
            return  # replayed batch after restart: already applied
        # ONE pass over the batch: build unconditionally and read the
        # batch size off the sketch itself — a separate count() job would
        # scan every micro-batch twice (review r5).  NOTE the metric
        # semantics: meta["rows"] counts the rows that ENTER the sketch
        # (non-null keys — build_sketches filters key IS NOT NULL), not
        # raw micro-batch rows; reconcile against the source minus its
        # null keys.
        part = tree_merge(build_sketches(batch_df, key_col, self.config))
        if part.nelts:
            delta = part if delta is None else delta.merge(part)
        elif delta is None and base is None:
            # commit the empty sketch so current() is non-None after batch 0
            delta = part
        if delta is not None and (
            base is None
            or delta.ndistinct >= _COMPACT_FRACTION * max(base.ndistinct, 1)
        ):
            base = delta if base is None else base.merge(delta)
            delta = None
            meta["compactions"] = meta.get("compactions", 0) + 1
        self._commit(
            {
                **meta,
                "last_batch_id": batch_id,
                "batches": meta["batches"] + 1,
                "rows": meta["rows"] + int(part.nelts),
            },
            base,
            delta,
        )

    def attach(
        self,
        stream_df: Any,
        key_col: str,
        trigger: dict[str, Any] | None = None,
        query_name: str = "cqf_stream",
    ) -> Any:
        """Start the streaming query; sketch state lives in state_dir, the
        stream's own offsets in state_dir/spark_ckpt (so a restarted query
        resumes from the right offset AND the sketch watermark agrees)."""

        def fn(batch_df: Any, batch_id: int) -> None:
            self.process_batch(batch_df, batch_id, key_col)

        writer = (
            stream_df.writeStream.foreachBatch(fn)
            .queryName(query_name)
            .option(
                "checkpointLocation", os.path.join(self.state_dir, "spark_ckpt")
            )
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()


def grouped_streaming_sketches(
    stream_df: Any,
    group_col: str,
    key_col: str,
    config: CqfConfig,
    compact_fraction: float = _COMPACT_FRACTION,
) -> Any:
    """One running CQF per group value, maintained in the ENGINE's state
    store via ``applyInPandasWithState`` — the custom-stateful-operator
    form of :class:`StreamingSketchBuilder` (which keeps one global sketch
    in its own atomic file).  Here Spark owns persistence, partitioning
    and recovery of the per-group state; the operator only defines the
    monoid.

    State per group is the same LSM pair (base, delta) as the file-backed
    builder, so a micro-batch costs O(|batch| + |delta|) with the
    O(|base|) compaction amortized — the reference's auto-resize
    amortization discipline (src/gqf.c:1819-1914).

    Emits one ``(group, sketch, nelts, ndistinct)`` row per group touched
    by each micro-batch (output mode "update"), where ``sketch`` is the
    merged base ⊎ delta view.  At very high update rates emit metadata
    only and read blobs from the state store at compaction points.

    Null keys are dropped before the state operator, so every batch
    reaches pandas as int64 and long keys hash exactly (a null-bearing
    integer column would arrive as float64).
    """
    import pandas as pd

    from .aggregator import hash_series

    def update(key: Any, pdfs: Any, state: Any):
        import numpy as np

        chunks = []
        for pdf in pdfs:
            if len(pdf):
                chunks.append(hash_series(pdf[key_col], config))
        if chunks:
            batch = Cqf.from_hashes(config, np.concatenate(chunks))
        else:
            batch = Cqf.empty(config, 6)
        if state.exists:
            base_b, delta_b = state.get
            base = Cqf.from_bytes(bytes(base_b))
            delta = Cqf.from_bytes(bytes(delta_b))
        else:
            base = Cqf.empty(config, 6)
            delta = Cqf.empty(config, 6)
        delta = delta.merge(batch)
        if delta.ndistinct > compact_fraction * max(base.ndistinct, 1):
            base, delta = base.merge(delta), Cqf.empty(config, 6)
        state.update((base.to_bytes(), delta.to_bytes()))
        merged = base.merge(delta)
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "sketch": [merged.to_bytes()],
                "nelts": [merged.nelts],
                "ndistinct": [merged.ndistinct],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    # group dtype follows the input column (an int group column would
    # fail Arrow conversion against a hardcoded string field)
    _gtype = dict(stream_df.dtypes)[group_col]
    ensure_shipped(stream_df.sparkSession)
    keyed = stream_df.where(stream_df[key_col].isNotNull())
    return keyed.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"group {_gtype}, sketch binary, nelts long, ndistinct long"
        ),
        stateStructType="base binary, delta binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

