"""The worker daemon's stat-checked zip invalidation (share_spark.daemon).

Pinned here:
  1. an unchanged archive is never re-read, and its importers share one
     directory: after the first invalidation stamps it, repeated
     importlib.invalidate_caches() calls read nothing
  2. a rewritten archive (new size and mtime) is re-read once on the next
     invalidation, and its new module imports
  3. inside a Spark worker task, importlib.invalidate_caches() reads no zip
     directory (stock PySpark before Python 3.13 re-reads pyspark.zip once
     per zipimporter on it, 16 times a task)
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from share_spark import daemon


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
        z.writestr("zm_pkg/__init__.py", "")
        z.writestr("zm_pkg/sub.py", "")


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's invalidate_caches; return the list of archive
    paths zipimport._read_directory is called on from then on."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_invalidate_reads_only_changed_archives(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zm_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zm_a", "zm_b", "zm_pkg", "zm_pkg.sub"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zm_a
    import zm_pkg.sub  # noqa: F401 — a second importer on the archive

    assert zm_a.NAME == "zm_a"
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 2
    del reads[:]
    importlib.invalidate_caches()  # stamps the archive: one shared read
    assert reads.count(archive) == 1
    assert importers[0]._files is importers[1]._files

    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, ["zm_a", "zm_b"])  # new size and mtime
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import zm_b

    assert zm_b.NAME == "zm_b"
    assert importers[0]._files is importers[1]._files


def _invalidate_reads(batches):
    import importlib
    import zipimport

    n = 0
    read = zipimport._read_directory

    def counting(path):
        nonlocal n
        n += 1
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    for b in batches:
        yield pd.DataFrame({"reads": [n] * len(b)})


def test_worker_task_rereads_no_zip(spark):
    """Python 3.13+ invalidates lazily on its own, so 0 holds there too."""
    df = spark.range(0, 64, numPartitions=8).mapInPandas(
        _invalidate_reads, "reads long"
    )
    for _ in range(2):  # fresh workers, then reused ones
        assert set(df.toPandas()["reads"]) == {0}
