"""SparkSession factory tuned for this engine.

Local mode here, but every config is chosen for cluster scale:
AQE on (runtime partition coalescing + skew-join handling), Arrow on
(all Python interop is vectorized), UTC session timezone (oracle
comparability), shuffle partitions sized to cores locally (on a real
cluster this would be ~2-3x total executor cores, with AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

_MAX_DRIVER_MB = 24 * 1024


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS (driver contract), else the cores this process
    may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_memory() -> str:
    """$PKE_DRIVER_MEM, else 3/8 of the host's MemTotal capped at 24g.

    The JVM's resident size runs well past its heap (off-heap buffers,
    codegen, metaspace) and the Python workers share the host, so a
    fixed 24g heap gets the driver OOM-killed on a 16 GB host; 3/8
    gives it about 6g there, which the test suite passes with."""
    env = os.environ.get("PKE_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kib = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return f"{_MAX_DRIVER_MB}m"
    return f"{max(1024, min(_MAX_DRIVER_MB, kib * 3 // 8 // 1024))}m"


def get_spark(
    app_name: str = "pke-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to :func:`default_cpus`, the driver heap to
    :func:`default_driver_memory`.
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ObjectHashAggregate (collect_list/collect_set: doc vectors,
        # concept contexts) falls back to SORT-based aggregation after
        # only 128 distinct keys per partition by default — that sort
        # spills the aggregation input to disk at scale for aggregates
        # whose per-key buffers this engine bounds by design (per-doc
        # term maps, capped context lists). Keep hashing up to 2M keys
        # per partition (~keys/partition stays orders of magnitude
        # below this when shuffle partitions are sized to the data).
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "2000000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle codec stays lz4 (the Spark default) ON PURPOSE — the
        # r6 data-size ladder measured the zstd trade on this engine's
        # shuffle-dense hot path (pair x vector rescore, doc-vector and
        # mention streams): zstd(level 1) cut live shuffle scratch only
        # ~19% (16.4 vs ~20 GB at 1.2M rows) while costing +25% wall
        # (1132.6 s vs 904.8 s) on 1-core executors, where compression
        # CPU lands directly on the task's critical path
        # (BENCH/scaling_1200000_heaps_4exec_auto{,_zstd}_r6.json.log).
        # Deployments whose shuffle must fit constrained local disks
        # (the engine carries ~17 KB/row of live shuffle under lz4 —
        # BENCH/disk_census_4800000_lz4_diskfull_r6.log) can flip
        # spark.io.compression.codec=zstd via extra_conf and pay the
        # CPU; with multi-core executors the wall cost shrinks because
        # compression no longer serializes against task compute.
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
