"""cqf_spark — PySpark-native counting-quotient-filter library."""

import os
import sys

# Large numpy buffers must come from reusable heap memory, not fresh mmaps:
# glibc's default trim/mmap behavior returns big buffers to the kernel on
# free, so vectorized hot loops re-fault new pages every batch.  On hosts
# with lazily-backed memory (VM snapshots, ballooning) a first touch costs
# ~1ms/page and this is a 100x slowdown; on any host it saves page-fault
# churn.  Must be set before child processes (Spark python workers) start;
# setdefault so operators can override.
for _k, _v in (
    ("MALLOC_MMAP_THRESHOLD_", "1073741824"),
    ("MALLOC_TRIM_THRESHOLD_", "-1"),
    ("MALLOC_ARENA_MAX", "4"),
    # Arrow's bundled jemalloc/mimalloc pools hand freed pages back to the
    # kernel on their own decay schedule, bypassing the glibc retention
    # above — every RecordBatch/pa.array in a hot loop then re-faults its
    # pages (~1ms each here).  The system pool routes Arrow through glibc
    # malloc, which the settings above pin.  Measured: steady-state kernel
    # rep drops from ~8k minor faults to ~0.
    ("ARROW_DEFAULT_MEMORY_POOL", "system"),
):
    os.environ.setdefault(_k, _v)

# The env vars above only take effect in processes started AFTER this point
# (Spark python workers, subprocess benches).  For the CURRENT process —
# whose glibc already parsed its env — apply the same policy via mallopt(3):
# M_MMAP_THRESHOLD=-3 (big numpy temps from the reusable heap, not fresh
# mmaps) and M_TRIM_THRESHOLD=-1 (never hand freed pages back).  Without
# this, every ~100MB hash/build temp is a fresh mmap whose first touch
# costs ~1ms/page on this lazily-backed VM — a 100x slowdown measured on
# murmur64a_concat (60s cold vs 0.6s warm at 2M keys).
try:
    import ctypes as _ctypes

    _libc = _ctypes.CDLL("libc.so.6", use_errno=True)
    _libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
    _libc.mallopt(-1, (1 << 31) - 1)  # M_TRIM_THRESHOLD
except Exception:  # non-glibc platform: env vars alone must do
    pass

# pyspark's worker calls importlib.invalidate_caches() at the start of every
# task (worker_util.setup_spark_files), and before CPython 3.13 each
# zipimporter answers by re-reading its whole archive directory.  Spark
# itself puts the spark-core jar and pyspark.zip on the worker's path, so
# no choice of how this library ships avoids it: a reused worker holds 17
# zipimporters and paid 120-240 ms per task before its UDF ran.
# Re-read only when the archive's (mtime, size) moved since this importer
# last read it; a rewritten zip is still re-read, a new py-file is a new
# path with its own importer.  3.13 made the re-read lazy.
if sys.version_info < (3, 13):
    import zipimport as _zipimport

    _reread = _zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_read_sig", None):
            self._read_sig = sig
            _reread(self)

    _zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
