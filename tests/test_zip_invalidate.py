"""pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; importing cqf_spark makes a zipimporter re-read its archive on that
call only when the archive changed (see cqf_spark/__init__.py)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

import cqf_spark  # noqa: F401  (installs the invalidation hook)

EAGER_REREAD = sys.version_info < (3, 13)


def _write_module_zip(path, name, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def _count_directory_reads(monkeypatch):
    reads = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_not_reread_rewritten_zip_is(tmp_path, monkeypatch):
    name = "cqf_zip_invalidate_probe"
    zpath = str(tmp_path / "probe.zip")
    _write_module_zip(zpath, name, 1)
    monkeypatch.syspath_prepend(zpath)
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == 1

    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    if EAGER_REREAD:
        assert zpath not in reads

    # same size, new content, new mtime: the next invalidation re-reads
    st = os.stat(zpath)
    _write_module_zip(zpath, name, 2)
    later = st.st_mtime_ns + 10**9
    os.utime(zpath, ns=(later, later))
    importlib.invalidate_caches()
    del sys.modules[name]
    assert importlib.import_module(name).VALUE == 2
    if EAGER_REREAD:
        assert zpath in reads


def test_executor_task_skips_reread_and_sees_added_py_file(spark, tmp_path):
    from cqf_spark.aggregator import cqf_aggregate
    from cqf_spark.queries import INT_CONFIG

    # one cqf UDF stage first: ships the package and warms the workers
    sk = cqf_aggregate(spark.range(2_000), "id", INT_CONFIG)
    assert sk.num_distinct == 2_000

    def reread_count(batches):
        import importlib
        import sys
        import zipimport

        import cqf_spark  # noqa: F401  (as unpickling any cqf UDF does)

        importers = [
            v
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        importlib.invalidate_caches()
        reads = []
        orig = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"importers": [len(importers)], "reads": [len(reads)]}
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(reread_count, "importers long, reads long")
        .collect()
    )
    assert rows and all(r["importers"] >= 1 for r in rows)
    if EAGER_REREAD:
        assert all(r["reads"] == 0 for r in rows)

    # a py-file added after that stage is a new path: importable next stage
    name = "cqf_added_py_file_probe"
    zpath = str(tmp_path / f"{name}.zip")
    _write_module_zip(zpath, name, 41)
    spark.sparkContext.addPyFile(zpath)

    def read_added(batches):
        import importlib

        mod = importlib.import_module(name)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"value": [mod.VALUE]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(read_added, "value long")
        .collect()
    )
    assert [r["value"] for r in rows] == [41, 41]
