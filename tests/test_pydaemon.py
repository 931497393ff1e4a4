"""The Python worker daemon's zip-archive guard (``pydaemon``).

The guard alone needs no Spark: it must read an unchanged archive once
and a rewritten one again. The Spark tests check that the engine's
workers run under it, that ``addPyFile`` still reaches started workers,
and that importing the engine leaves the driver's ``zipimport`` alone.
"""

from __future__ import annotations

import os
import zipfile
import zipimport

from open_rust_timeseries_db_spark import pydaemon

STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_guard_reads_an_archive_again_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"m": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    pydaemon.invalidate_if_changed(importer)
    pydaemon.invalidate_if_changed(importer)
    assert reads == [str(archive)]
    assert importer.find_spec("m") is not None

    _write_zip(archive, {"m": "X = 1\n", "m2": "Y = 2\n"})
    pydaemon.invalidate_if_changed(importer)
    assert reads == [str(archive)] * 2
    assert importer.find_spec("m2") is not None


def test_guard_hands_a_fresh_read_to_other_importers_of_the_archive(tmp_path):
    # pyspark.zip has one importer per package directory; one re-read of
    # a changed archive must reach all of them.
    archive = tmp_path / "pkgs.zip"
    _write_zip(archive, {"m": "X = 1\n"})
    first = zipimport.zipimporter(str(archive))
    second = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_if_changed(first)
    _write_zip(archive, {"m": "X = 1\n", "m2": "Y = 2\n"})
    pydaemon.invalidate_if_changed(first)
    pydaemon.invalidate_if_changed(second)
    assert second.find_spec("m2") is not None


def test_guard_clears_an_archive_that_is_gone(tmp_path):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"m": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_if_changed(importer)
    os.remove(archive)
    pydaemon.invalidate_if_changed(importer)
    assert importer.find_spec("m") is None


def _worker_invalidate_name(spark, partitions: int) -> set[str]:
    """Names of the ``invalidate_caches`` the workers run under."""

    def report(it):  # nested, so it is pickled by value
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for pdf in it:
            pdf["fn"] = f"{fn.__module__}.{fn.__qualname__}"
            yield pdf

    df = spark.range(partitions).repartition(partitions)
    return {r.fn for r in df.mapInPandas(report, "id long, fn string").collect()}


def test_engine_workers_run_under_the_guard(spark):
    # The daemon runs the module as __main__; forked workers keep that.
    assert _worker_invalidate_name(spark, 2) == {"__main__.invalidate_if_changed"}


def test_add_py_file_reaches_started_workers(spark, tmp_path):
    def import_added(it):
        import importlib

        mod = importlib.import_module("pydaemon_added_mod")
        for pdf in it:
            pdf["v"] = mod.VALUE
            yield pdf

    _worker_invalidate_name(spark, 4)  # start the workers first
    archive = tmp_path / "pydaemon_added.zip"
    _write_zip(archive, {"pydaemon_added_mod": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))
    df = spark.range(4).repartition(4)
    rows = df.mapInPandas(import_added, "id long, v long").collect()
    assert {r.v for r in rows} == {42}


def test_driver_zipimport_is_untouched():
    import open_rust_timeseries_db_spark.session  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches is STOCK_INVALIDATE
    assert STOCK_INVALIDATE.__module__ == "zipimport"
