"""The stat-checked worker daemon: a Python task re-reads no zip
directory whose archive is unchanged, and a changed or missing archive
keeps zipimport's own behaviour."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from eventsgateway_spark import worker_daemon


def test_python_task_rereads_no_unchanged_zip(spark):
    """pyspark's worker invalidates import caches on every task; under
    the package's daemon that costs no zip directory read. With
    pyspark's own daemon the same call reads every zipimporter's
    archive again (16-20 reads per call on Python 3.11)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        daemon = sys.modules.get("eventsgateway_spark.worker_daemon")
        patched = (
            daemon is not None
            and zipimport.zipimporter.invalidate_caches is daemon.invalidate_caches
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "patched": [patched]})

    for _ in range(2):  # the second task runs on a reused worker
        row = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "reads long, patched boolean")
            .collect()[0]
        )
        assert row["reads"] == 0, row
        assert row["patched"], row


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """A zip on sys.path with one module, the daemon's patch installed,
    and every ``zipimport._read_directory`` of it counted."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"egw_wd_probe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_daemon.install()
    import egw_wd_probe_a  # noqa: F401  (creates the path's zipimporter)

    reads.clear()  # the importer's own first read

    yield path, reads
    for name in ("egw_wd_probe_a", "egw_wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(zip_path):
    path, reads = zip_path
    importlib.invalidate_caches()  # first call: no stamp yet, one read
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    assert sys.path_importer_cache[path]._read_stamp is not None


def test_rewritten_archive_is_reread(zip_path):
    path, reads = zip_path
    importlib.invalidate_caches()
    _write_zip(path, {"egw_wd_probe_a": "A = 1\n", "egw_wd_probe_b": "B = 2\n"})
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 2
    import egw_wd_probe_b

    assert egw_wd_probe_b.B == 2


def test_deleted_archive_keeps_zipimport_behaviour(zip_path):
    path, reads = zip_path
    importlib.invalidate_caches()
    os.remove(path)
    importer = sys.path_importer_cache[path]
    for n in (2, 3):  # a failed stat re-reads on every call
        importlib.invalidate_caches()
        assert len(reads) == n
        assert importer._files == {}
        assert importer._read_stamp is None
        assert path not in zipimport._zip_directory_cache


@pytest.mark.parametrize(
    "version, patched", [((3, 11, 7), True), ((3, 12, 1), True), ((3, 13, 0), False)]
)
def test_patch_only_before_3_13(monkeypatch, version, patched):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", version)
    worker_daemon.install()
    installed = zipimport.zipimporter.invalidate_caches
    assert (installed is worker_daemon.invalidate_caches) is patched
    assert (installed is original) is not patched
