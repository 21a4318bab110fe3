"""The worker daemon's zipimport patch: an unchanged archive is not re-read
when import caches are invalidated, a changed one still is."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from etlpy_spark import spark_daemon

lazy_already = sys.version_info >= (3, 13)


@pytest.fixture
def patched(monkeypatch):
    # saved here so the teardown undoes install()
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    spark_daemon.install()


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(lazy_already, reason="zipimport already invalidates lazily")
def test_unchanged_zip_not_reread_changed_zip_picked_up(patched, tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zdaemon_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    for m in ("zdaemon_a", "zdaemon_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)

    assert importlib.import_module("zdaemon_a").X == 1
    files = zipimport._zip_directory_cache[path]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is files

    _write_zip(path, {"zdaemon_a": "X = 1\n", "zdaemon_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zdaemon_b").Y == 2
    assert zipimport._zip_directory_cache[path] is not files

    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache


def test_workers_keep_zip_directories(spark):
    """Guards get_spark's daemon conf: a Python task that invalidates import
    caches keeps every cached zip directory (pyspark.zip among them)."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache.get(k) is v for k, v in before.items())
        for _ in batches:
            pass
        yield pd.DataFrame({"n_zips": [len(before)], "kept": [kept]})

    rows = spark.range(4).repartition(4).mapInPandas(probe, "n_zips int, kept boolean").collect()
    assert len(rows) == 4
    assert all(r.n_zips > 0 for r in rows)
    if not lazy_already:
        assert all(r.kept for r in rows)
