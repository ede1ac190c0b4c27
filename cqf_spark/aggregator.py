"""Distributed CQF aggregation — the Spark-native realization of the
reference's insert/merge lifecycle (SURVEY.md §3).

Pipeline shape of ``cqf_aggregate`` (all Arrow-batched, no per-row Python):

    df.groupBy(key[, value]).count()     # JVM pre-aggregation: map-side
                                         #   partial agg + one exchange of
                                         #   (key, count) rows
      -> mapInArrow(build)               # one numpy CQF per partition,
                                         #   hashed off the Arrow buffers
      -> applyInPandas merge rounds      # only while > fan_in blobs remain
         or collect                      #   = qf_multi_merge (gqf.c:2479)
      -> broadcast sketch                # qf_serialize bytes on the wire
      -> arrow_udf probes                # qf_count_key_value, vectorized

``build_sketches`` + ``tree_merge`` is the same chain without the JVM
pre-aggregation: one partial sketch per input partition.  After the
exchange only (key, count) rows and sketch blobs cross process/node
boundaries.  Per-partition locks are unnecessary (single-writer
partitions replace the reference's region spin-locks, src/gqf.c:146-244);
per-partition metrics replace the per-CPU partitioned counters
(src/partitioned_counter.c).  Nothing here runs a Spark job while
planning: partition counts are read off the physical plan
(:func:`plan_partitions`), so each stage runs once, inside the collect.
"""

from __future__ import annotations

import math
import os
import tempfile
import threading
import zipfile
from collections.abc import Iterator
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException

from .config import CqfConfig, HashMode
from .core import Cqf, hash_keys
from .functions.hashing import fingerprint_bytes, murmur64a_arrow

_SHIPPED: set[int] = set()
_SHIP_LOCK = threading.Lock()


def ensure_shipped(spark: Any) -> None:
    """Ship the cqf_spark package to executors (the ``spark-submit
    --py-files`` contract, automated).

    Executor python workers unpickle our closures by module reference; if the
    driver wasn't launched from the repo root the import fails.  Zipping the
    package once per SparkContext and ``addPyFile``-ing it makes every
    aggregation self-contained on any cluster.  Safe to call from several
    threads at once (the concurrent queries of one job do): the check-and-
    ship runs under a lock, and the zip is written to a temporary file that
    is renamed into place, so no reader ever sees a half-written archive.
    """
    sc = spark.sparkContext
    with _SHIP_LOCK:
        if id(sc) in _SHIPPED:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        tmp_dir = tempfile.gettempdir()
        zpath = os.path.join(tmp_dir, f"cqf_spark_pyfiles_{os.getpid()}.zip")
        # always (re)written: an archive under this name may be left over
        # from an earlier process that had the same pid
        fd, tmp = tempfile.mkstemp(
            dir=tmp_dir, prefix=".cqf_spark_pyfiles_", suffix=".zip"
        )
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for name in files:
                        if name.endswith(".py"):
                            full = os.path.join(root, name)
                            rel = os.path.join(
                                "cqf_spark", os.path.relpath(full, pkg_dir)
                            )
                            zf.write(full, rel)
            os.replace(tmp, zpath)
        except BaseException:
            os.unlink(tmp)
            raise
        sc.addPyFile(zpath)
        _SHIPPED.add(id(sc))

# decoded-sketch cache keyed by blob content, so executor processes decode a
# broadcast sketch once per python worker instead of once per batch.  The key
# is the bytes object itself: dict lookup compares full content on hash
# collision, so two distinct blobs can never resolve to the same sketch
# (a prefix+suffix+length digest had a ~2^-32 silent-collision window).
# Python caches a bytes object's hash, and the broadcast hands every batch
# the same object, so steady-state lookups stay O(1) with no re-hash.
_SKETCH_CACHE: dict[bytes, Cqf] = {}


def _cached_sketch(blob: bytes) -> Cqf:
    sk = _SKETCH_CACHE.get(blob)
    if sk is None:
        sk = Cqf.from_bytes(blob)
        if len(_SKETCH_CACHE) > 8:
            _SKETCH_CACHE.clear()
        _SKETCH_CACHE[blob] = sk
    return sk


def hash_series(s: pd.Series, config: CqfConfig) -> np.ndarray:
    """Hash one Arrow batch of keys into the sketch universe.

    Integer keys follow the reference exactly (8-byte LE Murmur / Wang per
    mode, src/gqf.c:1918-1924).  String/binary keys are a library extension:
    MurmurHash64A over the UTF-8 bytes, masked into the universe — DEFAULT
    mode only (an invertible hash of variable-length text cannot exist).
    """
    if s.dtype == object or pd.api.types.is_string_dtype(s.dtype):
        if config.hash_mode != HashMode.DEFAULT:
            raise ValueError("string keys require HashMode.DEFAULT")
        # one C-level conversion to Arrow, then buffer-direct murmur —
        # no per-row .encode loop (VERDICT r01 #1)
        arr = pa.Array.from_pandas(s)
        mask = (1 << config.key_bits) - 1
        return murmur64a_arrow(arr, config.seed) & np.uint64(mask)
    if s.isna().any():
        s = s.fillna(0)  # callers mask null rows out of results/builds
    arr = s.to_numpy()
    if arr.dtype.kind == "f":
        arr = arr.astype(np.int64)
    return hash_keys(arr.astype(np.int64).view(np.uint64), config)


def _arrow_numbers(col: Any) -> np.ndarray:
    """A numeric Arrow column as numpy, nulls as 0.  Without the fill a
    null-bearing integer column converts through float64, which drops the
    low bits of values at or above 2**53."""
    if col.null_count:
        col = col.fill_null(False if pa.types.is_boolean(col.type) else 0)
    return col.to_numpy(zero_copy_only=False)


def hash_arrow(arr: Any, config: CqfConfig) -> np.ndarray:
    """Hash one Arrow column (a ``mapInArrow`` RecordBatch column or an
    ``arrow_udf`` argument) into the sketch universe — the
    zero-Python-object twin of :func:`hash_series`.  Null rows hash as 0
    or the empty string; callers mask them out of builds and results."""
    t = arr.type
    if (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_string_view(t)
        or pa.types.is_binary_view(t)
        or pa.types.is_dictionary(t)
    ):
        if config.hash_mode != HashMode.DEFAULT:
            raise ValueError("string keys require HashMode.DEFAULT")
        mask = (1 << config.key_bits) - 1
        return murmur64a_arrow(arr, config.seed) & np.uint64(mask)
    np_arr = _arrow_numbers(arr)
    if np_arr.dtype.kind == "f":
        np_arr = np.nan_to_num(np_arr).astype(np.int64)
    return hash_keys(np_arr.astype(np.int64).view(np.uint64), config)


class PlannedPartitions(NamedTuple):
    """A DataFrame's partition count as its physical plan states it.

    ``n`` is exact when ``exact`` is set.  Otherwise an exchange that AQE
    may re-plan decides it: ``n`` is that exchange's partition count,
    which coalescing can only lower and a skewed join can raise by
    splitting partitions.  ``scans_only``: every partition comes from a
    scan through narrow operators (broadcast joins included), with no
    shuffle or cached relation on the way."""

    n: int
    exact: bool
    scans_only: bool


# plan node class -> simple names of its classes and traits; each name
# costs a py4j round trip, so every class is walked once per process
_CLASS_NAMES: dict[str, frozenset[str]] = {}


def _node_classes(node: Any) -> frozenset[str]:
    """Simple names of a plan node's classes and the traits they mix in."""
    cls = node.getClass()
    names = _CLASS_NAMES.get(cls.getName())
    if names is None:
        found: set[str] = set()
        todo = [cls]
        while todo:
            c = todo.pop()
            if c is None or c.getSimpleName() in found:
                continue
            found.add(c.getSimpleName())
            todo.append(c.getSuperclass())
            todo.extend(c.getInterfaces())
        names = _CLASS_NAMES[cls.getName()] = frozenset(found)
    return names


def _children(node: Any) -> list[Any]:
    children = node.children()
    return [children.apply(i) for i in range(children.size())]


def _leaf_partitions(node: Any, classes: frozenset[str]) -> int:
    # a scan's RDD is its file (or split) listing; nothing runs until a
    # job reads it
    if classes & {"FileSourceScanExec", "DataSourceV2ScanExecBase"}:
        return int(node.inputRDD().getNumPartitions())
    return int(node.execute().getNumPartitions())


def _walk_partitions(
    node: Any, adaptive: bool, shuffle_n: int
) -> PlannedPartitions | None:
    """Partition count of one physical plan node; ``None`` for a
    broadcast, which is not a partition source.  ``adaptive``: AQE may
    still re-plan the node's exchanges."""
    classes = _node_classes(node)
    if classes & {"BroadcastExchangeLike", "BroadcastQueryStageExec"}:
        return None
    if "ReusedExchangeExec" in classes:
        return _walk_partitions(node.child(), adaptive, shuffle_n)
    if "AdaptiveSparkPlanExec" in classes:
        # before it runs, executedPlan is the plan with every exchange in
        # place; after, the finished query stages
        return _walk_partitions(node.executedPlan(), True, shuffle_n)
    if "QueryStageExec" in classes:
        # a materialized stage: any coalescing shows as an AQEShuffleRead
        # above it, so the exchange inside reads as it ran
        return _walk_partitions(node.plan(), False, shuffle_n)
    if "AQEShuffleReadExec" in classes:
        n = int(node.partitionSpecs().size())
        return PlannedPartitions(n, True, False)
    if "InMemoryTableScanExec" in classes:
        # a cached relation has its plan's partitions
        inner = _walk_partitions(
            node.relation().cachedPlan(), False, shuffle_n
        )
        return inner._replace(scans_only=False)
    if "ShuffleExchangeLike" in classes:
        n = int(node.outputPartitioning().numPartitions())
        origin = node.shuffleOrigin().getClass().getSimpleName()
        # AQE leaves an explicit repartition(n) alone
        exact = not adaptive or origin.startswith("REPARTITION_BY_NUM")
        return PlannedPartitions(n, exact, False)
    if classes & {"CollectLimitExec", "TakeOrderedAndProjectExec"}:
        return PlannedPartitions(1, True, False)
    children = _children(node)
    if not children:
        try:
            n = _leaf_partitions(node, classes)
            return PlannedPartitions(n, True, True)
        except (Py4JError, CapturedException):
            # a source that cannot list itself unexecuted
            return PlannedPartitions(shuffle_n, False, False)
    kids = [
        p
        for p in (_walk_partitions(c, adaptive, shuffle_n) for c in children)
        if p is not None
    ]
    if not kids:  # an operator over a broadcast only
        return None
    exact = all(k.exact for k in kids)
    scans_only = all(k.scans_only for k in kids)
    if "CoalesceExec" in classes:
        n = min(int(node.numPartitions()), kids[0].n)
    elif "UnionExec" in classes:
        n = sum(k.n for k in kids)
        # children that share one shuffle's partitioning may be read as
        # one (a partitioning-aware union): the sum is exact over scans
        exact = exact and scans_only
    elif "CartesianProductExec" in classes:
        n = math.prod(k.n for k in kids)
    else:
        # narrow operators and joins: the streamed or co-partitioned
        # children share one count
        n = max(k.n for k in kids)
    return PlannedPartitions(n, exact, scans_only)


def plan_partitions(df: Any) -> PlannedPartitions:
    """``df``'s partition count read off its physical plan through py4j
    (node classes, not the plan string).  Planning only: no job runs,
    where ``df.rdd.getNumPartitions()`` would run every exchange and
    build every cache in the plan first."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    return _walk_partitions(
        df._jdf.queryExecution().executedPlan(),
        False,
        int(conf.numShufflePartitions()),
    )


def ensure_parallelism(df: Any, min_parts: int | None = None) -> Any:
    """Repartition only inputs that come straight from scans with fewer
    splits than the cluster has cores (small-file inputs).  At scale,
    parquet inputs already have thousands of splits and this is a
    metadata-only no-op — no shuffle is added to the 100 TB path.  The
    repartition happens on the *pruned* columns, so at most (key, count)
    longs move.

    Inputs whose plan holds a shuffle or a cached scan are left alone:
    their partitioning is the shuffle's (or the cache's).  The decision
    reads the plan (:func:`plan_partitions`) and runs nothing."""
    planned = plan_partitions(df)
    if not planned.scans_only:
        return df
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if planned.n < min_parts:
        return df.repartition(min_parts)
    return df


SKETCH_SCHEMA = (
    "part_id int, sketch binary, nelts long, ndistinct long, noccupied long, "
    "qbits int, load double, n_rows long, build_s double, blob_hash long"
)


def build_sketches(
    df: Any,
    key_col: str,
    config: CqfConfig,
    count_col: str | None = None,
    qbits_hint: int | None = None,
    value_col: str | None = None,
    partition_filter: "list[int] | None" = None,
) -> Any:
    """Per-partition partial aggregation: DataFrame -> one sketch row per
    partition (the UDAF *update* phase; qf_insert batched, SURVEY.md §3.1).

    The input should already be pruned to (key[, count]) so the parquet scan
    reads only those columns.  Each partition hashes its batches eagerly
    (keys are dropped immediately; only uint64 hashes are held) and bulk
    builds once at the end — O(n log n) vectorized, with auto-resize doubling
    on 95% load overflow exactly like src/gqf.c:1902-1914.

    Output carries per-partition lineage: partition id, element/distinct/
    occupancy counters (the reference's pc_* metadata counters,
    src/partitioned_counter.c), build wall seconds, and a murmur of the
    blob for checkpoint validation.
    """
    import time as _time

    from pyspark.sql import functions as F

    ensure_shipped(df.sparkSession)
    cols = [key_col]
    if count_col:
        cols.append(count_col)
    if value_col:
        cols.append(value_col)
    pruned = ensure_parallelism(
        df.select(*cols).where(F.col(key_col).isNotNull())
    ).withColumn("__pid", F.spark_partition_id())
    if partition_filter is not None:
        # checkpoint resume: rebuild only these partitions (JVM-side drop;
        # empty partitions still emit a part_id=-1 row the caller filters)
        pruned = pruned.where(
            F.col("__pid").isin([int(p) for p in partition_filter])
        )
    vb = config.value_bits

    # mapInArrow: string keys go Arrow buffers -> murmur directly; Python
    # string objects are never materialized on the build path.
    def build(batches: Iterator[Any]) -> Iterator[Any]:
        t0 = _time.time()
        hash_chunks: list[np.ndarray] = []
        count_chunks: list[np.ndarray] = []
        n_rows = 0
        part_id = -1
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            part_id = int(rb.column(names.index("__pid"))[0].as_py())
            n_rows += rb.num_rows
            h = hash_arrow(rb.column(names.index(key_col)), config)
            if value_col:
                # pack value bits next to the remainder (src/gqf.c:1925-1926)
                v = (
                    _arrow_numbers(rb.column(names.index(value_col)))
                    .astype(np.int64)
                    .view(np.uint64)
                )
                h = (h << np.uint64(vb)) | (v & np.uint64((1 << vb) - 1))
            elif vb:
                h = h << np.uint64(vb)
            hash_chunks.append(h)
            if count_col:
                count_chunks.append(
                    _arrow_numbers(rb.column(names.index(count_col))).astype(
                        np.uint64
                    )
                )
        hashes = (
            np.concatenate(hash_chunks)
            if hash_chunks
            else np.empty(0, dtype=np.uint64)
        )
        counts = np.concatenate(count_chunks) if count_chunks else None
        sk = Cqf.from_hashes(config, hashes, counts, qbits=qbits_hint)
        blob = sk.to_bytes()
        yield pa.RecordBatch.from_pydict(
            {
                "part_id": pa.array([part_id], pa.int32()),
                "sketch": pa.array([blob], pa.binary()),
                "nelts": pa.array([sk.nelts], pa.int64()),
                "ndistinct": pa.array([sk.ndistinct], pa.int64()),
                "noccupied": pa.array([sk.noccupied], pa.int64()),
                "qbits": pa.array([sk.geom.qbits], pa.int32()),
                "load": pa.array([sk.load_factor], pa.float64()),
                "n_rows": pa.array([n_rows], pa.int64()),
                "build_s": pa.array([_time.time() - t0], pa.float64()),
                "blob_hash": pa.array([fingerprint_bytes(blob)], pa.int64()),
            }
        )

    return pruned.mapInArrow(build, schema=SKETCH_SCHEMA)


def merge_group_key(n_groups: int) -> Any:
    """Group key for one tree-merge fan-in round: a Murmur3 hash of the
    row id, mod n_groups.

    ``pmod(monotonically_increasing_id(), n_groups)`` is WRONG here: after
    ``build_sketches`` every partition holds exactly one row at local index
    0, so ids are ``partition_id * 2^33`` — and ``pid*2^33 mod n_groups``
    only takes ``n_groups / gcd(2^33, n_groups)`` distinct values.  At 4096
    partitions with n_groups=64 every blob lands in group 0 and one task
    does the whole k-way merge (the serial tail the fan-in topology exists
    to avoid).  Hashing the id first (Murmur3, F.hash) destroys the 2^33
    stride, so all groups fill at any partition count; merge results are
    order-independent, so grouping is a pure load-balancing choice.
    """
    from pyspark.sql import functions as F

    return F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_groups))


def tree_merge(sketch_df: Any, fan_in: int = 64,
               n_blobs: int | None = None, empty: Cqf | None = None) -> Cqf:
    """UDAF *merge* phase: k-way merge of sketch blobs (qf_multi_merge
    semantics, src/gqf.c:2479-2544).

    Topology: while more than ``fan_in`` partial sketches remain, one
    ``applyInPandas`` round merges groups of ``fan_in`` blobs executor-side
    (one shuffle of serialized sketches only — qf_serialize bytes on the
    wire, src/gqf_file.c:264-278); the final <= fan_in blobs are collected
    and k-way merged in a single vectorized ``merge_many`` (concatenate +
    sort + reduceat — the same co-iteration qf_multi_merge does per slot).

    For typical partition counts (<= fan_in) this is a single collect: the
    reference's k-way merge with k = P.  Measured 5x faster than RDD
    ``treeReduce`` at P=32 (shuffle-round overhead dwarfs the numpy merge).
    At 100 TB scale (tens of thousands of partitions) each round reduces the
    blob count by ``fan_in``x, so 100k partitions -> 2 executor rounds.
    An input with no blobs merges to ``empty``, or raises ``ValueError``
    when ``empty`` is not given.
    """
    df = sketch_df.select("sketch")
    # blob count gates the executor rounds.  plan_partitions is exact for
    # build_sketches over a scan, a cache or an explicit repartition (one
    # blob row per input partition) and the exchange's count over a
    # shuffle AQE may coalesce, read off the plan either way: counting
    # through df.rdd would run the exchange as a job of its own before the
    # collect, and again inside it once a merge round wraps the frame in a
    # new plan.  It is wrong for re-read frames (a parquet scan's split
    # count tracks file sizes, not rows) — those callers pass n_blobs
    # explicitly (checkpoint.py) so 100k compacted blobs still take the
    # executor rounds instead of a driver-side collect.
    n = n_blobs if n_blobs is not None else plan_partitions(df).n

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sks = [Cqf.from_bytes(bytes(b)) for b in pdf["sketch"]]
        return pd.DataFrame({"sketch": [Cqf.merge_many(sks).to_bytes()]})

    while n > fan_in:
        n_groups = int(math.ceil(n / fan_in))
        df = (
            df.withColumn("g", merge_group_key(n_groups))
            .groupBy("g")
            .applyInPandas(merge_group, schema="sketch binary")
        )
        n = n_groups

    blobs = [bytes(r[0]) for r in df.collect()]
    if not blobs:
        if empty is None:
            raise ValueError("no sketches to merge (empty input)")
        return empty
    return Cqf.merge_many([Cqf.from_bytes(b) for b in blobs])


def cqf_aggregate(
    df: Any,
    key_col: str,
    config: CqfConfig,
    count_col: str | None = None,
    qbits_hint: int | None = None,
    value_col: str | None = None,
) -> Cqf:
    """Full build: partial per-partition sketches + tree merge -> one Cqf.

    Without ``count_col`` the raw stream is first counted in the JVM,
    ``groupBy(key[, value]).count()``: map-side partial aggregation, one
    exchange of (key, count) rows, and the Python build sees one row per
    distinct key instead of every row.
    ``Cqf.from_hashes(counts=...)`` aggregates identically, so the sketch
    bytes are those of the raw-stream build.  The cost: an all-distinct
    stream pays that exchange for nothing when its input already has a
    split per core (on 4 cores, 4M distinct longs in 4 partitions took
    2.5-3.2 s without it and 3.7-4.3 s with it); an input of fewer
    splits is repartitioned by the raw path too.
    ``tree_merge(build_sketches(df, ...))`` is the raw path for callers
    whose keys are known to be distinct.  An empty input (or one whose
    keys are all null) gives the empty sketch.
    """
    from pyspark.sql import functions as F

    if count_col is None:
        grain = [key_col] + ([value_col] if value_col else [])
        df = df.groupBy(*grain).agg(F.count(F.lit(1)).alias("__cnt"))
        count_col = "__cnt"
    return tree_merge(
        build_sketches(df, key_col, config, count_col, qbits_hint, value_col),
        empty=Cqf.empty(
            config, config.qbits_for(0) if qbits_hint is None else qbits_hint
        ),
    )


# --------------------------------------------------------------------- #
# probe side: broadcast sketch + vectorized Arrow UDFs (SURVEY.md §3.2)
# --------------------------------------------------------------------- #

def _probe_udf(spark: Any, sketch: Cqf, return_type: Any, probe: Any, null: Any):
    """The one broadcast-probe factory behind the UDFs below.

    The sketch's wire bytes are broadcast once; each executor decodes
    them once (:func:`_cached_sketch`).  Every Arrow batch of keys is
    hashed straight off its buffers by :func:`hash_arrow`, never through
    pandas, whose conversion would turn a null-bearing long column into
    float64 and miss keys at or above 2**53.  ``probe(sk, key_hashes)``
    answers the whole batch in one vectorized call (``Cqf.count_hashes``
    and its twins sort the batch, search the decoded hashes and return
    results in row order); null keys read ``null``."""
    from pyspark.sql.functions import arrow_udf

    ensure_shipped(spark)
    blob = spark.sparkContext.broadcast(sketch.to_bytes())
    config = sketch.config

    @arrow_udf(return_type)
    def _probe(keys: pa.Array) -> pa.Array:
        out = probe(_cached_sketch(blob.value), hash_arrow(keys, config))
        if keys.null_count:
            out[keys.is_null().to_numpy(zero_copy_only=False)] = null
        return pa.array(out)

    return _probe


def count_udf(spark: Any, sketch: Cqf):
    """Arrow UDF: approximate multiplicity of each key (long; 0 = absent
    or null).  qf_count_key_value broadcast to executors.  A value-packed
    sketch is probed at value 0, as ``Cqf.count`` does by default."""
    from pyspark.sql.types import LongType

    vb = np.uint64(sketch.config.value_bits)
    return _probe_udf(
        spark, sketch, LongType(),
        lambda sk, h: sk.count_hashes(h << vb).view(np.int64), 0,
    )


def contains_udf(spark: Any, sketch: Cqf):
    """Arrow UDF: approximate membership (boolean; no false negatives,
    False for null keys)."""
    from pyspark.sql.types import BooleanType

    vb = np.uint64(sketch.config.value_bits)
    return _probe_udf(
        spark, sketch, BooleanType(),
        lambda sk, h: sk.count_hashes(h << vb) > 0, False,
    )


def query_value_udf(spark: Any, sketch: Cqf):
    """Arrow UDF: qf_query's stored value for each key (long, -1 if
    absent or null)."""
    from pyspark.sql.types import LongType

    def probe(sk: Cqf, h: np.ndarray) -> np.ndarray:
        counts, values = sk.query_hashes(h)
        out = values.view(np.int64)
        out[counts == 0] = -1
        return out

    return _probe_udf(spark, sketch, LongType(), probe, -1)


def unique_index_udf(spark: Any, sketch: Cqf):
    """Arrow UDF: qf_get_unique_index per key (src/gqf.c:2095-2132) —
    the slot index of the key's counter (perfect-hash handle), -1 when
    absent or null.  The distributed twin of :meth:`Cqf.unique_indexes`."""
    from pyspark.sql.types import LongType

    vb = np.uint64(sketch.config.value_bits)
    return _probe_udf(
        spark, sketch, LongType(),
        lambda sk, h: sk.unique_index_hashes(h << vb), -1,
    )


def build_sketches_grouped(
    df: Any,
    group_col: str,
    key_col: str,
    config: CqfConfig,
    fan_in: int = 64,
    count_col: str | None = None,
) -> Any:
    """GROUP BY + sketch aggregation: one merged CQF per group value,
    returned as DataFrame[group, sketch, nelts, ndistinct].

    Shape: each input partition builds one partial sketch PER GROUP seen
    locally (map-side partial aggregation — raw keys never shuffle), then
    one blob shuffle groups partials by group value and merges
    (qf_multi_merge per group).  Group skew is bounded: a group's shuffle
    payload is its partial-sketch count, not its row count.

    ``count_col`` (r6) lets callers pre-aggregate the stream to exact
    (group, key, count) rows in JVM codegen first (guide §2.3) —
    ``Cqf.from_hashes(counts=...)`` aggregates identically, so the merged
    per-group sketches are unchanged while the Python boundary sees one
    row per distinct (group, key).
    """
    from pyspark.sql import functions as F

    ensure_shipped(df.sparkSession)
    # Null contract (matches build_sketches and the SQL oracles): null keys
    # never enter a sketch (COUNT/COUNT DISTINCT exclude nulls); a null
    # *group* would be silently dropped by pandas groupby anyway, so it is
    # filtered explicitly here — callers wanting a NULL group must coalesce
    # to a sentinel first.
    cols = [group_col, key_col] + ([count_col] if count_col else [])
    pruned = ensure_parallelism(
        df.select(*cols).where(
            F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
        )
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[Any, list[np.ndarray]] = {}
        cnt_acc: dict[Any, list[np.ndarray]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for g, sub in pdf.groupby(group_col, sort=False):
                acc.setdefault(g, []).append(hash_series(sub[key_col], config))
                if count_col:
                    cnt_acc.setdefault(g, []).append(
                        sub[count_col].to_numpy().astype(np.uint64)
                    )
        rows = {"group": [], "sketch": [], "nelts": [], "ndistinct": []}
        for g, chunks in acc.items():
            counts = (
                np.concatenate(cnt_acc[g]) if count_col else None
            )
            sk = Cqf.from_hashes(config, np.concatenate(chunks), counts)
            rows["group"].append(g)
            rows["sketch"].append(sk.to_bytes())
            rows["nelts"].append(sk.nelts)
            rows["ndistinct"].append(sk.ndistinct)
        yield pd.DataFrame(rows)

    gtype = dict(pruned.dtypes)[group_col]
    schema = f"group {gtype}, sketch binary, nelts long, ndistinct long"

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        m = Cqf.merge_many([Cqf.from_bytes(bytes(b)) for b in pdf["sketch"]])
        return pd.DataFrame(
            {
                "group": [pdf["group"].iloc[0]],
                "sketch": [m.to_bytes()],
                "nelts": [m.nelts],
                "ndistinct": [m.ndistinct],
            }
        )

    return (
        pruned.mapInPandas(build, schema=schema)
        .groupBy("group")
        .applyInPandas(merge_group, schema=schema)
    )
