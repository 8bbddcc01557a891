"""The session defaults reach the JVM and fit the host: the JIT policy
is on the driver JVM's command line, the caller's
``extraJavaOptions`` key stays free, the heap is below physical
memory, and the codegen cache keeps more than Spark's default 100
generated classes."""

from __future__ import annotations

import os

from osm2shp_spark.session import DEFAULT_CONFS, JIT_POLICY


def test_jit_policy_reaches_the_jvm(spark):
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    missing = [flag for flag in JIT_POLICY if flag not in args]
    assert not missing, f"{missing} not in the JVM's arguments {args}"


def test_defaults_leave_extra_java_options_to_the_caller():
    assert "spark.driver.extraJavaOptions" not in DEFAULT_CONFS


def test_driver_heap_below_physical_memory(spark):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < heap < phys


def test_codegen_cache_outlives_spark_default(spark):
    """120 distinct whole-stage classes (integer literals are inlined
    into the generated source), then the first query again: its class
    is still cached, so nothing compiles."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run(i: int) -> None:
        spark.range(0, 8, 1, 2).selectExpr(f"id * {i} + {i}").write.format(
            "noop"
        ).mode("overwrite").save()

    for i in range(120):
        run(i)
    before = compiles.getCount()
    run(0)
    assert compiles.getCount() == before
