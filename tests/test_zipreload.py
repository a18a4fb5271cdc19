"""zipreload: a warm Python worker re-reads a zip archive's directory
only when the archive changed, and the hook is live in workers and off
on the driver."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from crawl4ai_spark import zipreload

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="Python 3.13 invalidate_caches no longer re-reads")
def test_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zr_pkg/__init__.py": "",
                         "zr_pkg/a.py": "X = 1\n"})
    original = zipimport.zipimporter.invalidate_caches
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    sys.path.insert(0, archive)
    try:
        zipreload.install()
        zipreload.install()  # idempotent
        assert zipimport.zipimporter.invalidate_caches.stat_checked
        from zr_pkg import a  # one importer for the archive, one for zr_pkg/

        assert a.X == 1
        importlib.invalidate_caches()  # the first call after install reads
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        # rewritten in place at the same path, with a new module
        _write_zip(archive, {"zr_pkg/__init__.py": "",
                             "zr_pkg/a.py": "X = 1\n",
                             "zr_pkg/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]  # once per archive, not per importer
        from zr_pkg import b

        assert b.Y == 2
    finally:
        zipimport.zipimporter.invalidate_caches = original
        sys.path.remove(archive)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        for mod in ("zr_pkg", "zr_pkg.a", "zr_pkg.b"):
            sys.modules.pop(mod, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_hook_is_off_on_the_driver():
    code = ("import pyspark, zipimport\n"
            "f = zipimport.zipimporter.invalidate_caches\n"
            "import crawl4ai_spark\n"
            "assert zipimport.zipimporter.invalidate_caches is f\n")
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120,
                   env={**os.environ, "PYTHONPATH": REPO})


def test_hook_is_live_in_workers(spark):
    def rereads(_):
        import importlib
        import zipimport

        import crawl4ai_spark  # noqa: F401

        n = [0]
        read = zipimport._read_directory

        def counted(path):
            n[0] += 1
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            n[0] = 0
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield n[0]

    rdd = spark.sparkContext.parallelize([0], 1)
    assert rdd.mapPartitions(rereads).collect() == [0]
