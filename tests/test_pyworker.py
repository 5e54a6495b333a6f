"""The engine's Python-worker daemon (milvus_spark/pyworker.py): a zip
archive's directory is re-read on invalidate_caches only when the archive
changed, and Spark's workers run under that rule."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from milvus_spark import pyworker


def _write_zip(path, version: int, pad: str = "") -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pw_stamp_mod.py", f"VERSION = {version}{pad}\n")


def _count_reads(monkeypatch) -> list:
    reads: list = []
    stock = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread_and_rewrite_is_seen(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_if_changed)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "pw_stamp_mod", raising=False)
    import pw_stamp_mod

    assert pw_stamp_mod.VERSION == 1
    importer = sys.path_importer_cache[archive]
    reads = _count_reads(monkeypatch)

    importer.invalidate_caches()  # first call: no stamp yet, so it reads
    assert reads == [archive]
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, 2, pad="  # rewritten in place")
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules["pw_stamp_mod"]
    assert importlib.import_module("pw_stamp_mod").VERSION == 2


def test_same_size_rewrite_with_new_mtime_is_seen(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._invalidate_if_changed)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, 1)
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    size = os.stat(archive).st_size
    mtime = os.stat(archive).st_mtime_ns

    _write_zip(archive, 3)
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    assert os.stat(archive).st_size == size
    reads = _count_reads(monkeypatch)
    importer.invalidate_caches()
    assert reads == [archive]
    assert importer.get_source("pw_stamp_mod") == "VERSION = 3\n"


def test_worker_tasks_do_not_reread_spark_archives(spark):
    # defined here so it is pickled by value: workers cannot import tests/
    def probe_task(batches):
        reads = []
        stock = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        rule = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "reads": [len(reads)],
                "rule_file": [os.path.realpath(rule.__code__.co_filename)],
                "rule_name": [rule.__name__],
            }
        )

    schema = "reads long, rule_file string, rule_name string"
    for _ in range(2):  # fresh workers, then reused ones
        rows = spark.range(0, 64, 1, 2).mapInPandas(probe_task, schema).collect()
        assert len(rows) == 2
        for row in rows:
            assert row.rule_name == "_invalidate_if_changed"
            assert row.rule_file == os.path.realpath(pyworker.__file__)
            assert row.reads == 0, row
