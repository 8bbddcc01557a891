"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode testing uses ``local[N]``; on a real cluster the same confs
apply (shuffle width, Arrow batching). AQE, its partition coalescing
and its skew-join splitting are Spark defaults and are not restated.
The driver heap and the default master are derived from the host.
Tests call :func:`get_spark` once per session (pytest fixture
scope=session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: JIT policy of the driver JVM (in local mode it also runs the
#: executors). Most of what a short job compiles is Catalyst planning
#: code and one-shot generated classes: run thousands of times, they
#: reach HotSpot's default C2 thresholds, but the job ends before C2's
#: code repays its compile time. One C1 and one C2 thread (the default
#: on 4 cores is 3) and tier-4 thresholds 10x the defaults leave C2 to
#: the hot loops. C1-only (TieredStopAtLevel=1) was measured and
#: rejected: the hot aggregate loops at scale need C2.
JIT_POLICY: tuple[str, ...] = (
    "-XX:CICompilerCount=2",
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=20000",
    "-XX:Tier4CompileThreshold=60000",
    "-XX:Tier4BackEdgeThreshold=400000",
)


def _driver_memory() -> str:
    """Half the host's physical memory, at most 48g (a heap above the
    host never spills: the kernel kills the JVM instead)."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 48 << 30) >> 20}m"


DEFAULT_CONFS: dict[str, str] = {
    # Shuffle width sized to local cores; a cluster deployment overrides
    # via spark-submit --conf (rule of thumb: 2-3x total cores).
    "spark.sql.shuffle.partitions": "32",
    # Arrow transfer for pandas UDFs / toPandas (the only Python paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Batch sizing, measured (bench_experiments/arrow_sweep_{32c,8c}):
    # on the vectorized cell-index stage 50k-row batches beat the 10k
    # default 1.3-1.9x at every fleet size/width (per-batch UDF setup
    # amortizes); >=200k regresses (allocator pressure). Rows are the
    # wrong cap for binary-heavy stages (50k x 1 MB images), so the
    # byte cap below bounds mapInPandas batches at 128 MB regardless.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(128 * 1024 * 1024),
    # Object-aggregate (collect_list/collect_set) hash-map size before
    # the per-task sort fallback. The 128-key Spark default exists
    # because object buffers are opaque to the memory manager, but it
    # makes every grouped-collect stage (kNN top-k, way assembly) sort
    # its FULL input per task — the exact row sort the aggregate
    # rewrite removed (measured: knn_places execution 2 in a fresh JVM
    # 10.7s -> 4.4s, way_assembly cold 11.5s -> 5.0s; steady state
    # equal or better). 8192 keys covers the engine's per-task group
    # counts at 2-3x-cores shuffle width (hundreds to ~5k groups/task
    # across the gated + benched workloads) while bounding worst-case
    # UNTRACKED buffer memory by the largest group this engine builds:
    # a max-size OSM way (2000 refs x ~24 B struct ~ 48 KB) gives
    # 8192 x 48 KB ~ 384 MB/task at the adversarial
    # every-group-maximal extreme, vs multi-GB at 64k keys. Beyond
    # 8192 in-memory groups the sort fallback engages — the
    # memory-safe behavior wanted at that cardinality anyway.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "8192",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast policy: node build sides at sandbox scale always fit;
    # AQE converts to broadcast at runtime when stats allow anyway.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.ui.enabled": "false",
    "spark.driver.memory": _driver_memory(),
    # defaultJavaOptions, not extraJavaOptions: the latter is the
    # caller's, and a later -XX flag there overrides the policy.
    "spark.driver.defaultJavaOptions": " ".join(JIT_POLICY),
    # Generated classes kept compiled. A query's cost at this scale is
    # planning, Janino and the JIT, not data. The cache is keyed by
    # class loader, so in local mode the driver and the executor each
    # fill it: the 12-query perfbench round needs ~180 entries and the
    # 50-query registry ~700. With Spark's 100, every warm round
    # recompiled ~150 classes identical to the last round's.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_spark(
    app_name: str = "osm2shp_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or, with that
    unset, ``local[<CPUs this process may run on>]``. Pass e.g.
    ``local[8]`` explicitly for scaling-efficiency runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # CodeGenerator sizes its cache once, from SQLConf.get on the first
    # thread that touches it. A Python worker thread planning a query
    # has no active session and reads Spark's default 100; an executor
    # task thread reads the session's conf. Touch it here, where the
    # session is active, so the size does not depend on which thread
    # compiles first. Spark Connect has no JVM in this process.
    jvm = getattr(spark, "_jvm", None)
    if jvm is not None:
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return spark
