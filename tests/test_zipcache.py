"""The package's zipimport stamp check (`_zipcache`): an unchanged
archive is not re-read by `importlib.invalidate_caches()`, a changed
one is, and a missing one does not raise. The worker test runs the
same check inside a Spark Python worker, where PySpark calls
`invalidate_caches()` at the start of every session."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import kafka_streams_reorder_timestamp_spark  # noqa: F401  (installs the check)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    names = ["_zipcache_probe_a", "_zipcache_probe_b"]
    _write_zip(archive, names[:1])
    monkeypatch.syspath_prepend(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    try:
        importlib.import_module(names[0])
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()  # stamps every importer on the path
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, names)  # one more module: a new size and mtime
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(names[1]).__loader__ is importer

        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
    finally:
        for name in names:
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_reimport_keeps_one_wrapper():
    from kafka_streams_reorder_timestamp_spark import _zipcache

    importlib.reload(_zipcache)
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper is _zipcache._invalidate_if_changed
    assert not hasattr(wrapper.__wrapped__, "__wrapped__")


def test_python_worker_skips_unchanged_archives(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import kafka_streams_reorder_timestamp_spark  # noqa: F401

        # Stamps the importers this session had not stamped yet, as a
        # worker's first session does once its UDF imports the package.
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "zipimporters": [len(zips)]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "reads long, zipimporters long")
        .collect()[0]
    )
    assert row.reads == 0
    assert row.zipimporters >= 1
