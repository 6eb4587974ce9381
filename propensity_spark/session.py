"""SparkSession factory for the propensity_spark engine.

Configured for correctness-vs-DuckDB comparison (UTC session timezone,
ANSI-off like the reference) and for scale (AQE, partition coalescing,
skew-join handling, Arrow transfers). The reference relies on the
Databricks runtime session (SURVEY.md §4); we build our own.

At 100 TB the same settings hold: AQE re-plans shuffle partition counts
at runtime, so `spark.sql.shuffle.partitions` is only an upper bound;
skew joins are split automatically; broadcast threshold stays default so
dimension tables (region/nation/part/supplier) broadcast.

The package reads two environment settings, both about the deployment
and both read here: SPARK_GRAFT_CPUS (local cores, default 32) and
SPARK_DRIVER_MEM (driver heap, default `default_driver_mem()`).
Independent Spark actions overlap through `run_overlapped`, which keeps
the caller's job group on every overlapped job.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal, capped at 48g; 48g when `meminfo` cannot
    be read. A fixed 48g let the local JVM grow until the OOM killer
    ended it on a 16 GB host."""
    try:
        with open(meminfo) as f:
            kb = int(re.search(r"^MemTotal:\s+(\d+)", f.read(), re.M).group(1))
    except (OSError, AttributeError):
        return "48g"
    return f"{min(48 * 1024, kb // 2048)}m"


def run_overlapped(spark: SparkSession, fns: list, width: int | None = None) -> list:
    """Run independent zero-argument callables, up to `width` (default
    all) at a time; return their results in input order and re-raise the
    first failure in that order, like `pool.map`. `width <= 1` runs them
    inline on the calling thread.

    Each callable gets its own `inheritable_thread_target` call, i.e. its
    own clone of the caller's local properties (PySpark's default
    pinned-thread mode): its jobs land in the caller's job group, and a
    `setJobDescription` inside one callable cannot leak into another."""
    if width is None:
        width = len(fns)
    if width <= 1:
        return [fn() for fn in fns]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrapped = [inheritable_thread_target(spark)(fn) for fn in fns]
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [pool.submit(fn) for fn in wrapped]
        return [f.result() for f in futures]


def get_spark(
    app_name: str = "propensity_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is a single JVM; `spark.driver.memory` is set via
    SPARK_DRIVER_MEM (default `default_driver_mem()`) only if no
    session exists yet.
    """
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Spark 4 defaults ANSI on; the reference semantics (div-by-zero
        # -> NULL, silent casts) require legacy mode, and DuckDB agrees.
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
