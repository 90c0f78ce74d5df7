"""Spark Python-worker import hook: an import archive is re-read only
when it has changed, once for all the importers that share it."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pyspark.sql.functions as F
import pytest

from davar_lab_ocr_spark import pyworker

_HOOKED = sys.implementation.name == "cpython" and sys.version_info < (3, 13)


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/sub/__init__.py", "")
        for name, value in modules.items():
            zf.writestr(f"{pkg}/sub/{name}.py", f"VALUE = {value}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding pkg/sub/a.py, imported, so that the
    zip, pkg and pkg/sub importers all share the archive; the stdlib
    method is restored and every trace of the archive dropped after."""
    pkg = f"pwpkg_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "pkg.zip")
    _write_zip(path, pkg, {"a": 1})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(f"{pkg}.sub.a").VALUE == 1
    sharing = [f for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter) and f.archive == path]
    assert len(sharing) >= 2
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(p):
        if p == path:
            reads.append(p)
        return stdlib_read(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, pkg, reads
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, _pkg, reads = archive
    pyworker.install()
    pyworker.install()
    importlib.invalidate_caches()
    assert len(reads) == 1  # the first call after install reads it once
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1


def test_changed_archive_is_read_once_and_its_new_module_imports(archive):
    path, pkg, reads = archive
    pyworker.install()
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, pkg, {"a": 1, "b": 2})
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module(f"{pkg}.sub.b").VALUE == 2
    sharing = [f for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter) and f.archive == path]
    assert all(f"{pkg}/sub/b.py" in f._files for f in sharing)


def test_missing_archive_falls_through_to_stdlib(archive):
    path, _pkg, _reads = archive
    pyworker.install()
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert all(f._files == {} for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter) and f.archive == path)


def test_hook_is_installed_in_workers_only_and_add_py_file_still_imports(spark, tmp_path):
    @F.pandas_udf("string")
    def hook_owner(x: pd.Series) -> pd.Series:
        import zipimport

        import davar_lab_ocr_spark  # noqa: F401

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(x))

    owners = {r.o for r in spark.range(8, numPartitions=4).select(hook_owner("id").alias("o"))
              .collect()}
    assert owners == {"davar_lab_ocr_spark.pyworker" if _HOOKED else "zipimport"}
    # the driver is never patched
    assert not pyworker.needed()
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

    mod = f"pwprobe_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{mod}.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(path)

    @F.pandas_udf("long")
    def probe_value(x: pd.Series) -> pd.Series:
        return pd.Series([importlib.import_module(mod).VALUE] * len(x))

    values = {r.v for r in spark.range(8, numPartitions=4).select(probe_value("id").alias("v"))
              .collect()}
    assert values == {42}
