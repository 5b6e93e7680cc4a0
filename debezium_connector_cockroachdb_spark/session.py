"""SparkSession factory with scale-appropriate defaults, and the one reader
of ``observe()`` metrics.

Local-mode testing stands in for a multi-executor cluster; every setting here
is chosen to also be correct at 1000 executors (AQE, skew-join handling,
UTC session time, Arrow batches for the pandas-UDF paths).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import Observation, SparkSession


def driver_memory_mb(total_kb: int | None = None) -> int:
    """Default driver heap: a quarter of the host's memory (``total_kb``,
    else MemTotal from /proc/meminfo), clamped to [1 GiB, 8 GiB] — hosts
    are often shared, and local-mode working sets sit far below either
    bound."""
    if total_kb is None:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(8192, total_kb // 4096))


def build_session(
    app_name: str = "cdc-ingest",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; at cluster scale this would be ~2-3× total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ObjectHashAggregate (struct/array aggregates) falls back to
        # sort-based beyond 128 groups by default — pathological for
        # arg-max aggs over many keys; keep it hashing
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd for table/staging parquet AND shuffle/spill blocks: the CDC
        # apply path is write-bandwidth-bound (every micro-batch stages its
        # update rows and appends delta files), and zstd moves ~30% fewer
        # bytes than snappy/lz4 for a small CPU premium — measured +10%
        # apply throughput at the bandwidth-bound parallelism level
        # (BENCH/BASELINE.md round-4 A/B); the standard trade on real
        # clusters where network/disk, not CPU, bounds ingest
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", f"{driver_memory_mb()}m"),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def observed(
    obs: Observation, fallback: Callable[[], dict[str, Any]] | None = None
) -> dict[str, Any]:
    """The metrics of ``obs``, read without blocking: ``Observation.get``
    waits without bound, and a degenerate plan (e.g. one the optimizer
    folds to an empty local relation) can finish without running the
    observe node, which completes the observation with an empty row. Drains
    the listener bus that posts the metrics (within Spark's own wait
    limit), then returns them if posted, else ``fallback()``, else raises
    ``RuntimeError``."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JJavaError:  # bus still busy at the wait limit: judge what was posted
            pass
    if obs._jo is not None and obs._jo.future().isCompleted() and obs._jo.getRow().length():
        return obs.get
    if fallback is None:
        raise RuntimeError("observe() metrics were never posted: the observed plan did not run")
    return fallback()
