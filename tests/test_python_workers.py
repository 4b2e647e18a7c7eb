"""Executor Python worker bootstrap: PySpark starts every Python task with
``importlib.invalidate_caches()``.  Inside a task that loaded the package,
that call must read no zip archive's directory (lazy invalidation, as in
CPython 3.13's ``zipimport``), while a changed archive is still seen on the
next import.  The driver's ``zipimport`` stays as the interpreter ships it.

The task bodies are closures (pickled by value, so the worker needs no
access to this file) that reference the package, as every package UDF
does: unpickling them imports it inside the task."""

import importlib
import os
import shutil
import sys
import tempfile
import uuid
import zipfile
import zipimport

import pandas as pd

import ssb_sgis_spark


def _run_in_task(spark, body, schema):
    """``body()`` -> dict, run inside one Python task; returns its row."""

    def udf(batches):
        for _ in batches:
            pass
        out = body()
        out["package_loaded"] = ssb_sgis_spark.__name__ in sys.modules
        yield pd.DataFrame([out])

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(udf, f"{schema}, package_loaded boolean")
        .collect()
    )
    assert len(rows) == 1 and rows[0]["package_loaded"]
    return rows[0].asDict()


def _with_zipped_module(check):
    """A task body: put a temp zip holding one module on ``sys.path``,
    import the module, then ``check(path, name, importer)``; the worker
    is reused by later tasks, so every trace is removed afterwards."""
    name = f"lazyzip_{uuid.uuid4().hex}"

    def body():
        tmp = tempfile.mkdtemp()
        path = os.path.join(tmp, "mods.zip")
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{name}.py", "VALUE = 1\n")
        sys.path.insert(0, path)
        try:
            assert importlib.import_module(name).VALUE == 1
            return check(path, name, sys.path_importer_cache[path])
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            zipimport._zip_directory_cache.pop(path, None)
            for mod in [m for m in sys.modules if m.startswith(name)]:
                del sys.modules[mod]
            shutil.rmtree(tmp, ignore_errors=True)

    return body


def test_task_invalidate_caches_reads_no_archive(spark):
    def check(path, name, importer):
        reads = []
        read = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return {"reads": len(reads)}

    row = _run_in_task(spark, _with_zipped_module(check), "reads long")
    assert row["reads"] == 0


def test_task_invalidate_caches_still_sees_archive_changes(spark):
    def check(path, name, importer):
        with zipfile.ZipFile(path, "a") as z:
            z.writestr(f"{name}_added.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        added = importlib.import_module(f"{name}_added").VALUE
        os.remove(path)
        importlib.invalidate_caches()
        return {
            "added": added,
            "files_after_delete": len(importer._files),
            "found_after_delete": importer.find_spec(f"{name}_gone") is not None,
        }

    row = _run_in_task(
        spark,
        _with_zipped_module(check),
        "added long, files_after_delete long, found_after_delete boolean",
    )
    assert row["added"] == 2
    assert row["files_after_delete"] == 0
    assert not row["found_after_delete"]


def test_driver_zipimport_is_untouched():
    zi = zipimport.zipimporter
    assert "ssb_sgis_spark" in sys.modules
    assert "_files" not in zi.__dict__
    assert zi.invalidate_caches.__module__ == "zipimport"
