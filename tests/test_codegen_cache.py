"""Gate on Spark's generated-code cache.

Spark compiles every whole-stage and expression code body with Janino and
caches the compiled class; a cache smaller than the engine's working set
misses on every lookup of a query cycle and recompiles the same code each
time. The second run of the 15 headline queries must therefore compile
(almost) nothing new.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_headline_queries_compile_once(spark):
    import bench

    import __spark_entry__ as entry

    queries = entry.queries()

    def run_headline() -> int:
        before = _compiles(spark)
        for name in bench.HEADLINE:
            _noop(queries[name](spark, SF_SMOKE))
        return _compiles(spark) - before

    first = run_headline()
    second = run_headline()

    # the counter moves: a never-seen literal is inlined into new code
    before = _compiles(spark)
    _noop(spark.range(8).select((F.col("id") + F.lit(time.time_ns())).alias("x")))
    fresh = _compiles(spark) - before

    assert fresh >= 1, "CodegenMetrics did not count a fresh compile"
    assert second < 10, (
        f"second headline run compiled {second} classes (first run {first}): "
        "the generated-code cache is thrashing"
    )
