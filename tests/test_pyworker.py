"""The stat-guarded zip directory cache (logflow/pyworker.py):
``importlib.invalidate_caches()`` re-reads no unchanged archive, in the
test process and inside Spark's Python workers, and a rewritten archive is
still read again."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from logflow import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="invalidate_caches is lazy on Python >= 3.12"
)


def _write_zip(path, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_a_rewritten_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["lf_zipguard_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("lf_zipguard_a", "lf_zipguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        importlib.import_module("lf_zipguard_a")
        reads: list[str] = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))

        importlib.invalidate_caches()
        assert reads == []

        # Adding a module changes the archive's size (and mtime).
        _write_zip(archive, ["lf_zipguard_a", "lf_zipguard_b"])
        importlib.invalidate_caches()
        assert importlib.import_module("lf_zipguard_b").NAME == "lf_zipguard_b"
        assert reads == [archive]
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._stamps.pop(archive, None)


def test_python_worker_tasks_reread_no_archive(spark):
    """A worker that has unpickled logflow code has the guard installed,
    so the ``invalidate_caches()`` that starts each of its later tasks
    re-reads no archive."""
    import pyarrow as pa

    def probe(batches):
        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict(
            {
                "guarded": [getattr(zipimport.zipimporter.invalidate_caches, "guarded", False)],
                "stamped": [sorted(pyworker._stamps)],
                "rereads": [len(reads)],
            }
        )

    df = spark.range(2, numPartitions=2)
    schema = "guarded boolean, stamped array<string>, rereads long"
    df.mapInArrow(probe, schema).collect()
    rows = df.mapInArrow(probe, schema).collect()
    assert len(rows) == 2
    for row in rows:
        assert row.guarded
        assert any(a.endswith("pyspark.zip") for a in row.stamped), row.stamped
        assert row.rereads == 0
