"""The stat-gated ``zipimporter.invalidate_caches`` (``biobloom_spark._zipcache``).

PySpark resets the import caches before every Python task; on an interpreter
whose ``zipimporter`` re-reads its archive eagerly, that re-read of
``pyspark.zip``, py4j and the Spark jar was the fixed cost of every task.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

from biobloom_spark import _zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_worker_skips_unchanged_archives(spark):
    """After a library operator, a task's second cache reset re-reads no
    archive (eager interpreter) or the stock method is untouched (lazy)."""
    from biobloom_spark.corpus import generate_corpus

    assert generate_corpus(spark, 8, num_partitions=1).count() == 8

    def probe(_):
        import importlib
        import zipimport as zi_mod

        import biobloom_spark  # noqa: F401  (installs the patch here)

        zi = zi_mod.zipimporter
        importlib.invalidate_caches()  # stamps every importer
        calls = []
        stock_read = zi_mod._read_directory

        def counting(archive):
            calls.append(archive)
            return stock_read(archive)

        zi_mod._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zi_mod._read_directory = stock_read
        n_zip = sum(isinstance(f, zi) for f in sys.path_importer_cache.values())
        yield (
            len(calls),
            n_zip,
            hasattr(zi, "_get_files"),
            hasattr(zi.invalidate_caches, "__wrapped__"),
        )

    [(reads, n_zip, lazy, patched)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    if lazy:
        assert not patched
    else:
        assert n_zip > 0, "no zip archive on the worker's import path"
        assert patched
        assert reads == 0


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    imp = zipimport.zipimporter(path)
    _zipcache.stat_gated_invalidate_caches(imp)  # first call stamps
    calls = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: calls.append(a) or stock_read(a)
    )
    _zipcache.stat_gated_invalidate_caches(imp)
    _zipcache.stat_gated_invalidate_caches(imp)
    assert calls == []
    assert imp.find_spec("a") is not None


def test_rewritten_archive_is_reread(tmp_path):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    imp = zipimport.zipimporter(path)
    _zipcache.stat_gated_invalidate_caches(imp)
    assert imp.find_spec("b") is None
    _write_zip(path, ["a", "b"])
    _zipcache.stat_gated_invalidate_caches(imp)
    spec = imp.find_spec("b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.NAME == "b"


def test_deleted_archive_behaves_like_stock(tmp_path):
    gated_path = str(tmp_path / "gated.zip")
    stock_path = str(tmp_path / "stock.zip")
    _write_zip(gated_path, ["a"])
    _write_zip(stock_path, ["a"])
    gated = zipimport.zipimporter(gated_path)
    stock = zipimport.zipimporter(stock_path)
    _zipcache.stat_gated_invalidate_caches(gated)
    os.remove(gated_path)
    os.remove(stock_path)
    _zipcache.stat_gated_invalidate_caches(gated)  # must not raise
    _zipcache._stock(stock)
    assert gated.find_spec("a") is None
    assert stock.find_spec("a") is None
    if EAGER:
        assert gated._files == stock._files == {}


def test_driver_import_leaves_pyspark_and_zipimport_alone():
    code = (
        "import sys, zipimport\n"
        "stock = zipimport.zipimporter.invalidate_caches\n"
        "import biobloom_spark\n"
        "assert 'pyspark' not in sys.modules, 'pyspark imported'\n"
        "assert zipimport.zipimporter.invalidate_caches is stock\n"
        "import pyspark\n"
        "assert not biobloom_spark._zipcache.install(), 'patched on driver'\n"
        "assert zipimport.zipimporter.invalidate_caches is stock\n"
    )
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr
