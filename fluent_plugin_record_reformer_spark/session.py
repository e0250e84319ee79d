"""SparkSession factory with scale-oriented defaults.

Single place where engine-wide physical knobs live so tests, bench,
and the driver entry all run the same configuration:

- AQE on (runtime partition coalescing + skew-join splitting — the
  always-on half of our skew story; explicit salting in
  operators/aggregate.py is the other half)
- UTC session timezone (deterministic ${time} renders + DuckDB parity)
- Arrow enabled for the pandas-UDF stages
- shuffle partitions sized to the core count (local mode); on a real
  cluster this would be ~2-3× total executor cores and AQE coalesces
  the rest.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """48g, or 40% of physical RAM on a smaller host: in local mode the
    whole engine (heap plus the JVM's off-heap use) and the Python
    workers share the host, and a heap sized past it lets the JVM grow
    until the kernel kills it."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb * 2 // 5)}m"


def get_spark(
    app_name: str = "record-reformer-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cpus = str(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) * 2, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    # ParallelGC over the G1 default: this engine's hot path is
    # string-heavy batch work (grok regex extraction, template
    # concat), where throughput-oriented ParallelGC A/B-measured
    # 13-18% faster WALL time at BOTH 2 and 8 pinned cores
    # (scaling job, 6.4M turns: lo 16.7->14.8s, hi 7.0->5.97s).
    # Latency-friendly G1 buys nothing in a batch engine. Override
    # via SPARK_GRAFT_JAVA_OPTS.
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")
    builder = SparkSession.builder
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    return (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        # local mode = everything in the driver JVM; the 1g default would
        # evict caches and thrash GC long before the 128 GiB box is used.
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # parallelismFirst keeps coalescing from collapsing the final
        # (post-partial) aggregate below the core count — an Amdahl
        # tail that otherwise grows with parallelism; override via env
        # for experiments.
        .config(
            "spark.sql.adaptive.coalescePartitions.enabled",
            os.environ.get("SPARK_GRAFT_COALESCE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The chunked two-branch layouts (distributed_running_sum,
        # exact_quantiles) are only CORRECT when both branches share
        # one physical range exchange: the boundary sample is seeded
        # by the rdd id, so independently materialized exchanges land
        # different chunk boundaries and the offsets join misaligns.
        # Spark's default, pinned explicitly; the operators also
        # fail fast if a caller disables it (_require_exchange_reuse).
        .config("spark.sql.exchange.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
