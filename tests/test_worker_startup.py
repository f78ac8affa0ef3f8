"""``_worker.install``: a reused Spark worker re-reads no unchanged archive.

The unit tests drive ``zipimporter.invalidate_caches`` on a temporary zip in
this process and count ``zipimport._read_directory`` calls; the Spark test
counts them inside real Python workers. Every test puts the original method
back in teardown.
"""

import importlib
import sys
import zipfile
import zipimport

import pytest

from flink_connector_http_spark import _worker


@pytest.fixture
def original_invalidate():
    original = zipimport.zipimporter.invalidate_caches
    yield original
    zipimport.zipimporter.invalidate_caches = original


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("wstart_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("wstart_a", "wstart_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_read_once_and_changed_one_again(
        original_invalidate, archive, monkeypatch):
    path, reads = archive
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    import wstart_a

    assert wstart_a.VALUE == "a" and len(reads) == 1
    _worker.install()
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1

    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("wstart_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert len(reads) == 2
    import wstart_b

    assert wstart_b.VALUE == "b"
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_install_is_idempotent(original_invalidate, monkeypatch):
    monkeypatch.setenv("SPARK_REUSE_WORKER", "1")
    _worker.install()
    guarded = zipimport.zipimporter.invalidate_caches
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert guarded.reread is original_invalidate


def test_nothing_installed_without_reused_worker(original_invalidate, archive, monkeypatch):
    path, reads = archive
    monkeypatch.delenv("SPARK_REUSE_WORKER", raising=False)
    import wstart_a  # noqa: F401

    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is original_invalidate
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_reused_worker_rereads_no_unchanged_archive(spark):
    # Nested, so that cloudpickle ships it by value to the workers.
    def count_reads(batches):
        import importlib as il
        import os
        import zipimport as zi

        import pyarrow as pa

        import flink_connector_http_spark  # noqa: F401

        for _ in batches:
            pass
        read_directory, reads = zi._read_directory, []
        zi._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        yield pa.RecordBatch.from_pydict({
            "reuse": [os.environ.get("SPARK_REUSE_WORKER")],
            "guarded": [hasattr(zi.zipimporter.invalidate_caches, "reread")],
            "archives": [len(zi._zip_directory_cache)],
            "reads": [len(reads)],
        })

    df = spark.range(0, 2, numPartitions=2).mapInArrow(
        count_reads, "reuse string, guarded boolean, archives long, reads long")
    df.collect()
    rows = df.collect()
    assert len(rows) == 2
    for row in rows:
        assert row.reuse and row.guarded
        assert row.archives >= 1 and row.reads == 0
