"""SparkSession factory tuned for the local harness and for scale.

Local mode is a single JVM; the settings below are chosen so the same
code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle-partition
  counts self-correct at any scale factor.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from the 2048 initial partitions.
- Arrow enabled for every pandas-UDF boundary.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """Half the host's memory, at most 24g: the JVM grows its heap
    toward the maximum, and the Python workers and the OS need the
    rest of the host."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(line.split()[1]) for line in fh
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{max(1024, min(24 * 1024, kib // 2048))}m"


def get_spark(app_name: str = "data-ingest-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # stays at its default (false) ON PURPOSE: the iterative graph
        # operators (LPA, Louvain) pin their edge frame's hash
        # partitioning by PERSISTING the repartition — a checkpointed
        # LogicalRDD reports UnknownPartitioning under AQE (measured on
        # 4.1.2), so the cached plan is the only partitioning carrier —
        # and flipping this flag to true lets AQE coalesce inside the
        # cached plan, which re-inserts the per-round edge exchange the
        # persist exists to remove (also measured).
        .config("spark.sql.session.timeZone", "UTC")
        # The harness events table stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert (see
        # harness.registry.events_df).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers import this package (data sources, UDFs) from
        # wherever the driver was started; Spark merges this entry with
        # the worker's own PYTHONPATH.
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
        # Local mode is ONE JVM holding every executor thread's working
        # set plus every broadcast and checkpoint block: an 8g heap
        # measured ~1.3x slower than 24g across a 60-query suite on a
        # 32-core host, from old-gen GC churn. On a real cluster
        # executors get their own heaps and this knob is the driver only.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        # The Janino compile cache holds 100 codegen units by default;
        # a 70-query suite generates several hundred distinct
        # WholeStageCodegen sources, so later queries thrash the cache
        # and recompile on every rep (static conf — must be set before
        # the first SQL context).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
