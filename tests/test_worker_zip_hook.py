"""The Python-worker zip hook (``install_worker_zip_hook``): an unchanged
archive is not re-read by ``invalidate_caches()``, a changed one is, and
outside a worker nothing is patched."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import pii_detection_redaction_spark as pkg


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``zhook_a`` on sys.path, a counter of directory reads
    of that archive, and ``zipimporter.invalidate_caches`` restored after."""
    from pyspark.core.files import SparkFiles

    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zhook_a": "A = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    monkeypatch.syspath_prepend(zpath)
    for mod in ("zhook_a", "zhook_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        if archive == zpath:
            reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert importlib.import_module("zhook_a").A == 1
    assert isinstance(sys.path_importer_cache[zpath], zipimport.zipimporter)
    yield zpath, reads
    sys.path_importer_cache.pop(zpath, None)
    getattr(zipimport, "_zip_directory_cache", {}).pop(zpath, None)


@pytest.mark.parametrize("shared_cache", [True, False], ids=["shared", "per_importer"])
def test_worker_hook_rereads_archive_only_when_changed(zip_on_path, monkeypatch, shared_cache):
    from pyspark.core.files import SparkFiles

    zpath, reads = zip_on_path
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    if shared_cache:
        assert pkg.install_worker_zip_hook()
    else:
        # install as if zipimport had no _zip_directory_cache (the hook
        # then keeps a stamp per importer); zipimport itself still needs it
        cache = zipimport._zip_directory_cache
        monkeypatch.delattr(zipimport, "_zip_directory_cache")
        assert pkg.install_worker_zip_hook()
        zipimport._zip_directory_cache = cache
    assert pkg.install_worker_zip_hook()  # idempotent: one wrapper
    hooked = zipimport.zipimporter.invalidate_caches
    assert not hasattr(hooked.__wrapped__, "__wrapped__")

    importlib.invalidate_caches()  # first sight of the archive: one read
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n, "an unchanged archive was re-read"

    _write_zip(zpath, {"zhook_a": "A = 1\n", "zhook_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("zhook_b").B == 2
    importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_hook_not_installed_outside_worker(zip_on_path):
    before = zipimport.zipimporter.invalidate_caches
    assert not pkg.install_worker_zip_hook()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not hasattr(before, "__wrapped__")


def test_core_import_loads_no_pyspark():
    import subprocess

    code = (
        "import sys, pii_detection_redaction_spark.core;"
        "print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=os.path.dirname(pkg.__path__[0]))
    assert out.stdout.strip() == "[]"


def test_python_worker_has_hook(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def hooked(x: pd.Series) -> pd.Series:
        import zipimport

        # ``pkg`` is pickled by reference: unpickling the UDF imports the
        # package in the worker, which is what installs the hook
        assert pkg.__name__
        on = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        return pd.Series([on] * len(x))

    df = spark.range(0, 8, numPartitions=4)
    df.select(hooked("id")).collect()  # first job: workers start
    rows = df.select(hooked("id").alias("on")).collect()
    assert rows and all(r.on for r in rows)
