"""The zip-archive stat guard (``dd_ops_ocr_spark.worker_zipcache``).

Unit tests install the guard in this process under a stand-in task
context and restore the original method afterwards; the worker test
checks that reused Spark Python workers carry it and that a per-task
cache invalidation there reads no archive directory.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark.taskcontext import TaskContext

from dd_ops_ocr_spark import corpus, pipeline, worker_zipcache
from tests.conftest import SF_SMOKE

ORIGINAL = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Counts ``zipimport._read_directory`` calls; reset with clear()."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def fresh(monkeypatch):
    """The unguarded method and empty guard state, restored on exit."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", ORIGINAL)
    monkeypatch.setattr(worker_zipcache, "_dirs", {})
    monkeypatch.setattr(worker_zipcache, "_original", None)


@pytest.fixture
def in_task(fresh, monkeypatch):
    monkeypatch.setattr(TaskContext, "_taskContext", object())


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    path = tmp_path / "zc_mods.zip"
    _write_zip(path, ["zc_mod_a"])
    monkeypatch.syspath_prepend(str(path))
    yield path
    sys.path_importer_cache.pop(str(path), None)
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(in_task, zip_path, reads):
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
    importlib.invalidate_caches()
    assert reads, "the unguarded method re-reads every archive"
    assert worker_zipcache.install()
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(in_task, zip_path, reads):
    importlib.import_module("zc_mod_a")
    assert worker_zipcache.install()
    _write_zip(zip_path, ["zc_mod_a", "zc_mod_b"])
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [str(zip_path)]
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"


def test_missing_archive_takes_original_path(in_task, zip_path):
    importlib.import_module("zc_mod_a")
    assert worker_zipcache.install()
    importer = sys.path_importer_cache[str(zip_path)]
    zip_path.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(zip_path) not in zipimport._zip_directory_cache


def test_install_twice_is_a_noop(in_task):
    assert worker_zipcache.install()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not ORIGINAL
    assert not worker_zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert worker_zipcache._original is ORIGINAL


def test_noop_on_python_313(in_task, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not worker_zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL


def test_noop_outside_a_task(fresh):
    assert TaskContext.get() is None
    assert not worker_zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is ORIGINAL


def test_reused_workers_read_no_directory(spark):
    # every worker in the idle pool runs an extract task, so imports the
    # package (and with it the guard)
    docs = corpus.build_spans_df(spark, SF_SMOKE).limit(64).repartition(16)
    assert pipeline.extract(docs).count() > 0

    # defined here so cloudpickle ships it by value: unpickling it must
    # not import the package into a worker that lacks it
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "reused": ["dd_ops_ocr_spark" in sys.modules],
            "guarded": [method.__module__ == "dd_ops_ocr_spark.worker_zipcache"],
            "importers": [importers],
            "reads": [len(calls)],
        })

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(probe, "pid long, reused boolean, guarded boolean, "
                           "importers long, reads long")
        .collect()
    )
    assert len(rows) == 4
    reused = [r for r in rows if r.reused]
    assert reused, rows
    for r in reused:
        assert r.guarded and r.importers > 0 and r.reads == 0, r
    for r in rows:
        if not r.reused:
            assert not r.guarded, r
