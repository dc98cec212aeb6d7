"""SparkSession factory with scale-oriented defaults.

Tuned for the target shape (1000-executor cluster over ~100 TB) but testable
on local[N]: AQE on (runtime coalescing + skew-join splitting), explicit
shuffle parallelism, Arrow transfers on, UTC session time.
"""

from __future__ import annotations

import os
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "transcript-cardinality-pipeline",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-mode scan parallelism: the fixtures are small zstd files, so
        # without these the whole regex parse lands on 1-2 tasks. On a real
        # cluster (128MB-1GB files) submit with maxPartitionBytes=128m.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "16m")
        # local mode: driver == executor; 32 concurrent tasks over millions
        # of parsed rows need real heap or GC/spill serializes the job
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_JVM_CACHE: dict = {}


def jvm_cached(key: Hashable, build: Callable[[], T]) -> T:
    """``build()``, built once per JVM and reused for the JVM's life.

    For values that are a pure function of ``key`` while one JVM runs:
    Column expression trees (every node of one costs a Py4J round trip
    to build) and facts such as the classpath. Never for data: a cached
    Column is an unresolved expression, so every plan that uses it still
    scans its input. Each entry remembers the Py4J gateway it was built
    on and is rebuilt when the gateway changes. No lock: two threads
    racing to fill one key build identical values, and either may win.
    """
    gateway = SparkContext._gateway
    hit = _JVM_CACHE.get(key)
    if hit is not None and hit[0] is gateway:
        return hit[1]
    value = build()
    _JVM_CACHE[key] = (gateway, value)
    return value
