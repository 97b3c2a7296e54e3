"""``worker_setup()``: the once-per-worker zipimport stat guard that
stops every Python task from re-reading unchanged archives."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lingua_spark.engine import udfs


@pytest.fixture
def stock_invalidate():
    stock = zipimport.zipimporter.invalidate_caches
    yield stock
    zipimport.zipimporter.invalidate_caches = stock


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path):
    """A zip holding module ``ws_mod_a``, on sys.path and imported."""
    path = tmp_path / "mods.zip"
    _write_zip(path, {"ws_mod_a": "VALUE = 'a'\n"})
    sys.path.insert(0, str(path))
    assert importlib.import_module("ws_mod_a").VALUE == "a"
    yield path
    sys.path.remove(str(path))
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)
    for name in ("ws_mod_a", "ws_mod_b"):
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch, archive):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter invalidation is lazy from 3.13")
def test_stock_invalidate_rereads_every_call(stock_invalidate, archive,
                                             reads):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2


def test_guard_skips_rereads_of_unchanged_archive(stock_invalidate, archive,
                                                  reads):
    assert udfs._install_zipimport_stat_guard()
    importlib.invalidate_caches()  # the importer's first read
    n = reads.count(str(archive))
    assert n <= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == n


def test_guard_rereads_a_rewritten_archive(stock_invalidate, archive, reads):
    udfs._install_zipimport_stat_guard()
    importlib.invalidate_caches()
    _write_zip(archive, {"ws_mod_a": "VALUE = 'a'\n",
                         "ws_mod_b": "VALUE = 'b' * 40\n"})
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("ws_mod_b")  # directory not re-read yet
    n = reads.count(str(archive))
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == n + 1
    assert importlib.import_module("ws_mod_b").VALUE == "b" * 40


def test_guard_installs_once(stock_invalidate):
    assert udfs._install_zipimport_stat_guard()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert not udfs._install_zipimport_stat_guard()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_worker_setup_is_a_noop_outside_a_worker(stock_invalidate,
                                                 monkeypatch):
    monkeypatch.setattr(udfs, "_WORKER_SET_UP", False)
    udfs.worker_setup()
    assert zipimport.zipimporter.invalidate_caches is stock_invalidate
    assert not udfs._WORKER_SET_UP


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="worker_setup is a no-op from 3.13")
def test_package_kernel_installs_guard_in_its_worker(spark):
    """After a package kernel has run, a later task's plain pandas UDF
    (one that never calls worker_setup) finds the guard installed in
    its reused worker."""
    from lingua_spark.ops.queries import register_sql_udfs

    register_sql_udfs(spark)
    # many tiny tasks: every idle worker in the pool runs the kernel
    n = spark.sparkContext.defaultParallelism * 8
    (spark.range(0, 4 * n, numPartitions=n)
     .selectExpr("lingua_simhash(CAST(id AS STRING)) AS h")
     .write.format("noop").mode("overwrite").save())

    @F.pandas_udf("boolean")
    def guarded(ids: pd.Series) -> pd.Series:
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return pd.Series([getattr(fn, "_lingua_stat_guard", False)] * len(ids))

    rows = spark.range(0, 4, numPartitions=1).select(
        guarded("id").alias("g")).collect()
    assert [r.g for r in rows] == [True] * 4
