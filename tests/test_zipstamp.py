"""``zipstamp``: in a PySpark worker, ``importlib.invalidate_caches()`` re-reads
a zip on ``sys.path`` only when the zip changed on disk."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from deepseek_ocr_api_rs_spark import zipstamp

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads zips lazily"
)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipstamp_probe_a.py", "VALUE = 'a'\n")
    # restore the stdlib method and every touched module and path entry
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    for name in ("zipstamp_probe_a", "zipstamp_probe_b"):
        # undone in reverse order, the pair leaves the name out of sys.modules
        monkeypatch.setitem(sys.modules, name, None)
        monkeypatch.delitem(sys.modules, name)
    assert importlib.import_module("zipstamp_probe_a").VALUE == "a"
    reads = _count_reads(monkeypatch)

    importlib.invalidate_caches()
    assert archive in reads  # the stdlib method re-reads every zip

    zipstamp.install()
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipstamp_probe_a.py", "VALUE = 'a'\n")
        zf.writestr("zipstamp_probe_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zipstamp_probe_b").VALUE == "b"


def test_reused_worker_rereads_no_zip(spark):
    """Inside a task of a worker that has imported the package, one
    ``invalidate_caches()`` reads no archive directory."""

    def probe(batches):
        import deepseek_ocr_api_rs_spark  # noqa: F401  (installs the stamp)

        reads = []
        read_directory = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.record_batch({"reads": [len(reads)]})

    df = spark.range(0, 8, numPartitions=8)
    for _ in range(2):  # the second job runs in reused workers
        rows = df.mapInArrow(probe, "reads long").collect()
        assert [r.reads for r in rows] == [0] * 8


def test_driver_import_keeps_stdlib_method():
    probe = (
        "import sys, zipimport, deepseek_ocr_api_rs_spark; "
        "print('pyspark' in sys.modules, zipimport.zipimporter.invalidate_caches.__module__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False zipimport", out.stdout
