"""SparkSession factory.

Scale posture (designed for 1000-executor clusters): AQE on (runtime
re-plan, skew-join splitting, partition coalescing), Arrow on (pandas-UDF
hot path), UTC session timezone (pinned so DuckDB-oracle timestamp
comparisons are stable), local cores and shuffle partitions from
``SPARK_GRAFT_CPUS``, else the host's ``os.cpu_count()`` — on a real cluster
this would be left to AQE + `spark.sql.shuffle.partitions` sized to
executor cores.

Python workers: every session forks its Python workers from
``data_harvesting_spark._pydaemon`` (``spark.python.daemon.module``), a
wrapper around ``pyspark.daemon`` that stops each task from re-reading
Spark's own zip archives (``pyspark.zip``, py4j) when pyspark invalidates
import caches, which cost ~0.2 CPU-s per Python task.  The package root goes on the workers' ``PYTHONPATH``
(``spark.executorEnv.PYTHONPATH``) so the daemon module, and the engine's
UDFs pickled by reference, import whatever the driver's working directory.

Generated-code cache: Spark compiles each whole-stage and expression code
body with Janino and keeps the compiled classes in an LRU cache of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.  The 15
headline queries alone need ~215 distinct classes and run in a cycle, so
with 100 entries every lookup missed: each pass recompiled ~207 classes,
loaded ~460 new ones and kept the JIT compiling them again (~5 CPU-s per
headline pass).  The full 145-query catalog has about 1,850 distinct classes.
The cache holds 4096, about twice the catalog's working set, so each plan
shape compiles once per session; see BENCH.md "Generated-code cache".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "data-harvesting-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    host_cpus = os.cpu_count() or 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(host_cpus))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else host_cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep scans pruned/pushed: defaults are fine, stated for intent
        .config("spark.sql.parquet.filterPushdown", "true")
        # streaming state store: RocksDB provider (bundled with Spark) so
        # large keyed state spills to disk instead of exhausting the heap
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # generated-code cache: ~2x the full catalog's ~1,850 distinct
        # generated classes, instead of the default 100 that the headline
        # cycle thrashed; holding the catalog's classes costs ~15 MB of
        # metaspace (199 against 184 MB after five full-catalog passes)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "data_harvesting_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
