"""The Python worker daemon re-reads a zip archive on sys.path only when
the archive changed, and the sessions from `get_spark` run it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from dbeam_spark import worker_daemon

eager = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this Python re-reads zip archives lazily; no patch applies",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths read by zipimport from now on, with fresh
    daemon stat keys."""
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    return reads


@eager
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, directory_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("wd_mod_a", "wd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_mod_a").X == 1
    importer = sys.path_importer_cache[archive]
    reads_at_import = len(directory_reads)

    worker_daemon.invalidate_caches(importer)  # first call: read, key kept
    assert len(directory_reads) == reads_at_import + 1
    for _ in range(3):
        worker_daemon.invalidate_caches(importer)
    assert len(directory_reads) == reads_at_import + 1

    _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("wd_mod_b")  # stale directory
    worker_daemon.invalidate_caches(importer)
    assert len(directory_reads) == reads_at_import + 2
    assert importlib.import_module("wd_mod_b").Y == 2


@eager
def test_missing_archive_falls_back_to_the_eager_call(tmp_path, directory_reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"wd_mod_c": "Z = 3\n"})
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)
    os.remove(archive)
    worker_daemon.invalidate_caches(importer)
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_leaves_lazy_invalidation_alone(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "_get_files", lambda self: {}, raising=False
    )
    before = zipimport.zipimporter.invalidate_caches
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


@eager
def test_reused_workers_do_no_directory_reads(spark):
    """On a reused worker, consecutive tasks read no archive directory:
    the first task a worker runs starts counting zipimport reads, the
    later ones report how many happened since (their own per-task
    ``importlib.invalidate_caches()`` included)."""
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "dbeam_spark.worker_daemon"
    )

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        counting = hasattr(zipimport, "_test_reads")
        if not counting:
            read = zipimport._read_directory
            zipimport._test_reads = 0

            def counted(path):
                zipimport._test_reads += 1
                return read(path)

            zipimport._read_directory = counted
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "counting": [counting],
                "reads": [zipimport._test_reads],
                "patch": [zipimport.zipimporter.invalidate_caches.__module__],
            }
        )

    df = spark.range(0, 8, numPartitions=8)
    schema = "pid long, counting boolean, reads long, patch string"
    rows = []
    for _ in range(40):  # idle workers are handed out in turn: cycle the pool
        rows += df.mapInArrow(probe, schema).collect()
        pids = [r.pid for r in rows if r.counting]
        if any(pids.count(p) >= 2 for p in pids):
            break
    else:
        pytest.fail("no worker ran two counted tasks")
    assert {r.patch for r in rows} == {"dbeam_spark.worker_daemon"}
    assert [r.reads for r in rows if r.counting] == [0] * len(pids)
