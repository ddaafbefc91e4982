"""The engine's Python worker daemon (``data_harvesting_spark._pydaemon``).

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. The engine's daemon swaps in a
version that does not re-read Spark's own zip archives. These tests fail
if a pyspark upgrade moves that call out from under the swap, or if the
swap stops later-added Python files from being importable.
"""

from __future__ import annotations

import zipfile

import pandas as pd
from pyspark.sql.functions import pandas_udf


def test_worker_runs_engine_invalidate_caches(spark):
    @pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import inspect
        import zipimport

        import pyspark
        import pyspark.worker_util as wu

        fn = wu.importlib.invalidate_caches
        calls = "importlib.invalidate_caches()" in inspect.getsource(
            wu.setup_spark_files
        )
        # the fixed archive's directory is not re-read by a task's
        # invalidation: the cached table is the same object afterwards
        loader = pyspark.__spec__.loader
        archive = getattr(loader, "archive", None)
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        kept = zipimport._zip_directory_cache.get(archive) is before
        return pd.Series(
            [f"{fn.__code__.co_filename}|{calls}|{archive}|{kept}"]
            * len(ids)
        )

    filename, calls, archive, kept = (
        spark.range(1).select(probe("id")).first()[0].split("|")
    )
    assert filename.endswith("data_harvesting_spark/_pydaemon.py"), filename
    assert calls == "True", "setup_spark_files no longer invalidates caches"
    if archive != "None":  # pyspark imported from Spark's pyspark.zip
        assert kept == "True"


def test_python_files_added_later_are_importable(spark, tmp_path):
    """A module added with addPyFile after Python tasks have run (so the
    worker's finders are already cached) imports in a later task; so does
    a module inside a zip added the same way."""

    @pandas_udf("long")
    def plus_one(ids: pd.Series) -> pd.Series:
        return ids + 1

    assert spark.range(3).select(plus_one("id")).count() == 3

    py = tmp_path / "harvest_late_module.py"
    py.write_text("VALUE = 41\n")
    zpath = tmp_path / "harvest_late_zip.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("harvest_late_zipped.py", "VALUE = 1\n")
    spark.sparkContext.addPyFile(str(py))
    spark.sparkContext.addPyFile(str(zpath))

    @pandas_udf("long")
    def late_value(ids: pd.Series) -> pd.Series:
        import harvest_late_module
        import harvest_late_zipped

        return ids * 0 + harvest_late_module.VALUE + harvest_late_zipped.VALUE

    got = {r[0] for r in spark.range(4).select(late_value("id")).collect()}
    assert got == {42}
