"""Zip directory re-reads skipped by html_parser_spark._zipimport_cache.

PySpark workers call ``importlib.invalidate_caches()`` once per task; on
CPython < 3.13 that re-read every zip archive on ``sys.path`` (pyspark.zip
among them) until the package installed its replacement."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import html_parser_spark  # noqa: F401  (installs the replacement)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("zipmod_a").X == 1
        # the first invalidation after an importer is created may read once
        importlib.invalidate_caches()
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        # a rewritten archive (new size) is read again and its new module
        # imports, exactly as without the replacement
        _write_zip(archive, {"zipmod_a": "X = 1\n", "zipmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zipmod_b").Y == 2
        # checked after the import: CPython 3.13+ reads lazily, on next use
        assert archive in reads
    finally:
        for name in ("zipmod_a", "zipmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


needs_replacement = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; nothing is installed",
)


@needs_replacement
def test_installing_twice_does_not_wrap_twice():
    from html_parser_spark import _zipimport_cache

    installed = zipimport.zipimporter.invalidate_caches
    assert installed.__module__ == _zipimport_cache.__name__
    _zipimport_cache._install()
    assert zipimport.zipimporter.invalidate_caches is installed


@needs_replacement
def test_udf_workers_run_with_the_replacement(spark):
    from pyspark.sql import functions as F

    def installed_by(_):
        import zipimport

        import html_parser_spark  # noqa: F401

        return zipimport.zipimporter.invalidate_caches.__module__

    n = 8
    rows = spark.range(0, n, 1, n).select(
        F.udf(installed_by, "string")("id").alias("m")
    ).collect()
    assert [r["m"] for r in rows] == ["html_parser_spark._zipimport_cache"] * n
