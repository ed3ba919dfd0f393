"""The engine's worker daemon: a Python task's import-cache flush keeps the
zip directories it has already read, and still re-reads a zip that changed."""

from __future__ import annotations

import zipfile
import zipimport

import pyarrow as pa

from osm_notes_ingestion_spark import daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_import_does_not_patch_zipimporter():
    assert zipimport.zipimporter.invalidate_caches is not daemon.invalidate_caches


def test_changed_zip_is_reread_and_unchanged_zip_is_kept(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    imp = zipimport.zipimporter(path)
    daemon.invalidate_caches(imp)  # the first flush reads and stamps the archive
    assert imp.find_spec("a") is not None and imp.find_spec("b") is None

    _write_zip(path, ["a", "b"])
    daemon.invalidate_caches(imp)
    assert imp.find_spec("b") is not None

    files = zipimport._zip_directory_cache[path]
    daemon.invalidate_caches(imp)
    assert zipimport._zip_directory_cache[path] is files
    assert imp._files is files


def test_importers_of_one_archive_share_a_reread(tmp_path):
    """Two importers of one zip: after one re-reads the changed archive,
    the other's flush takes the new directory although the stamp is now
    current."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    first, second = zipimport.zipimporter(path), zipimport.zipimporter(path)
    daemon.invalidate_caches(first)
    _write_zip(path, ["a", "b"])
    daemon.invalidate_caches(first)
    daemon.invalidate_caches(second)
    assert second.find_spec("b") is not None


def test_task_flush_keeps_spark_archives(spark):
    """Each task's `importlib.invalidate_caches()` (the one pyspark's
    worker runs before every task) replaces none of the zip directories
    the worker has read: Spark's daemon replaced every one."""

    def flush(batches):
        import importlib
        import zipimport

        for batch in batches:
            before = {path: id(files) for path, files in zipimport._zip_directory_cache.items()}
            importlib.invalidate_caches()
            after = zipimport._zip_directory_cache
            replaced = sum(1 for path, ident in before.items() if id(after.get(path)) != ident)
            yield pa.RecordBatch.from_pydict(
                {"archives": [len(before)] * batch.num_rows, "replaced": [replaced] * batch.num_rows}
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInArrow(flush, "archives long, replaced long")
        .collect()
    )
    assert len(rows) == 2
    assert all(r.archives > 0 for r in rows), rows
    assert all(r.replaced == 0 for r in rows), rows
