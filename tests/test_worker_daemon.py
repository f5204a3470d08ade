"""The Python worker daemon's stamped zip importer: an unchanged archive
is never re-read on ``invalidate_caches``, a rewritten one is, and Spark
workers of a ``get_spark`` session run with it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from rove_spark import worker_daemon
from rove_spark.worker_daemon import StampedZipImporter


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def isolated_import_state(monkeypatch):
    """Let a test swap path hooks and importers without leaking them."""
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", list(sys.path))


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    imp = StampedZipImporter(str(archive))
    calls = []
    read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        imp.invalidate_caches()
    assert calls == []
    # the stock importer re-reads on every call: the count is real
    zipimport.zipimporter(str(archive)).invalidate_caches()
    assert calls == [str(archive)]


def test_rewritten_archive_is_reread(tmp_path, isolated_import_state):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_old": "X = 1\n"})
    worker_daemon.install()
    sys.path.insert(0, str(archive))
    importlib.import_module("zmod_old")
    assert type(sys.path_importer_cache[str(archive)]) is StampedZipImporter

    _write_zip(archive, {"zmod_old": "X = 1\n", "zmod_new": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    try:
        assert importlib.import_module("zmod_new").Y == 2
    finally:
        sys.modules.pop("zmod_old", None)
        sys.modules.pop("zmod_new", None)


def test_install_swaps_cached_importers(tmp_path, isolated_import_state):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_c": "Z = 3\n"})
    sys.path_importer_cache[str(archive)] = zipimport.zipimporter(str(archive))
    worker_daemon.install()
    assert type(sys.path_importer_cache[str(archive)]) is StampedZipImporter
    assert zipimport.zipimporter not in sys.path_hooks
    assert StampedZipImporter in sys.path_hooks


def test_spark_worker_uses_stamped_importer(spark):
    def report(batches):
        import sys

        import pyarrow as pa

        kinds = sorted(
            {
                type(f).__name__
                for path, f in sys.path_importer_cache.items()
                if "pyspark.zip" in path
            }
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"kinds": [",".join(kinds)]})

    got = {
        r.kinds
        for r in spark.range(0, 64, numPartitions=4)
        .mapInArrow(report, "kinds string")
        .collect()
    }
    assert got == {"StampedZipImporter"}
