"""Session-constant costs are paid once.

- ``spark_daemon``: a zipimporter re-reads its archive directory on
  ``importlib.invalidate_caches()`` (which PySpark runs before every
  task) only when the archive changed since its last read.
- ``get_spark``: the codegen cache holds more than Spark's default 100
  generated classes, so a query compiled earlier in the session is not
  compiled again.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

import cube_builder_spark.spark_daemon  # noqa: F401  (patches zipimport)

eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 drops a zipimporter's cache lazily")


def _write_zip(path, name, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_module(tmp_path, monkeypatch):
    """``(archive, module name)``: a one-module zip on ``sys.path``."""
    name = f"cbs_zipmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    yield archive, name
    sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """The archives whose directory is read from now on."""
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_zip_invalidation
def test_unchanged_archive_is_not_reread(zip_module, directory_reads):
    archive, name = zip_module
    assert importlib.import_module(name).VALUE == 1
    assert archive in directory_reads
    directory_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads == []


@eager_zip_invalidation
def test_changed_archive_is_reread(zip_module, directory_reads):
    archive, name = zip_module
    assert importlib.import_module(name).VALUE == 1
    # a different size, so the signature differs even within one
    # timestamp tick
    _write_zip(archive, name, "VALUE = 'changed'\n")
    sys.modules.pop(name)
    importlib.invalidate_caches()
    assert archive in directory_reads
    assert importlib.import_module(name).VALUE == "changed"


@eager_zip_invalidation
def test_worker_task_rereads_no_archive(spark, tmp_path):
    def invalidation_reads(batches):
        # the task's own set-up already invalidated once: repeat it
        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"reads": [len(reads)], "importers": [importers]})

    rows = (spark.range(0, 4, 1, 4)
            .mapInPandas(invalidation_reads, "reads long, importers long")
            .collect())
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows

    # a file added to the session still imports in a task
    name = f"cbs_pyfile_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, name, "def answer():\n    return 42\n")
    spark.sparkContext.addPyFile(archive)

    def imported(batches):
        mod = importlib.import_module(name)
        for b in batches:
            yield pd.DataFrame({"v": [mod.answer()] * len(b)})
    got = spark.range(0, 2, 1, 2).mapInPandas(imported, "v long").collect()
    assert [r.v for r in got] == [42, 42]


def test_codegen_cache_outlives_the_default_100_entries(spark):
    compiled = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    tag = uuid.uuid4().int % 10**9

    def compile_projection(i):
        # planning the RDD compiles the whole-stage class; no job runs
        (spark.range(0, 4, 1, 1)
         .selectExpr(f"id * {tag} + {i} AS v")._jdf.queryExecution().toRdd())

    c0 = compiled.getCount()
    compile_projection(0)
    assert compiled.getCount() > c0
    for i in range(1, 150):
        compile_projection(i)
    c1 = compiled.getCount()
    compile_projection(0)
    assert compiled.getCount() == c1
