"""SparkSession factory with engine-appropriate defaults.

Local mode (``local[N]``) is the sandbox; the same settings scale to a
multi-executor cluster (AQE re-plans shuffles at runtime, Arrow is used
for every pandas interchange, UTC pins oracle comparisons).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

#: Spark's byte-string syntax (``JavaUtils.byteStringAs``): a whole
#: number with an optional binary unit
_BYTE_STRING = re.compile(r"[0-9]+([kmgtp]b?|b)?")


def _aqe_min_partition() -> str:
    """``SPARK_GRAFT_AQE_MIN_PARTITION`` (default ``64k``), checked
    here so a typo names the variable instead of failing inside Spark."""
    raw = os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k")
    v = raw.strip().lower()
    if not _BYTE_STRING.fullmatch(v):
        raise ValueError(
            f"SPARK_GRAFT_AQE_MIN_PARTITION={raw!r} is not a byte string "
            f"such as 64k or 1m"
        )
    return v


def build_session(
    app_name: str = "kafka_jdbc_sink_connector_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    aqe_min_partition = _aqe_min_partition()
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cores == "*" else int(cores)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd over snappy: interleaved A/B on the COW merge-write path
        # (the cdc_apply cost center) measured ~7% faster end-to-end
        # AND smaller files — at 100 TB the byte savings also cut every
        # later scan; override via extra_conf if a cluster prefers lz4
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 timestamps (Spark's legacy default) carry NO parquet
        # footer statistics, which would blind the lake's file-level
        # min/max data skipping (lake/stats.py) on exactly the column
        # CDC time-range scans prune by; TIMESTAMP_MICROS is the
        # modern parquet logical type and stats-bearing everywhere
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # single-JVM local mode: every task is PROCESS_LOCAL by
        # definition; any locality wait is pure scheduler stall (3s
        # default was costing seconds per tiny job)
        .config("spark.locality.wait", "0ms")
        # NOTE measured non-win (r8): preferring shuffled-hash joins
        # (preferSortMergeJoin=false + AQE
        # maxShuffledHashJoinLocalMapThreshold=64m) looked ~9% better
        # on one steady-COW A/B/A, but longer interleaved runs showed
        # a wash on the steady path and repeated multi-second
        # regressions on the LARGE merge batch (the full-outer SHJ
        # stage burned ~3x the CPU of the sort-merge plan). Keep
        # Spark's defaults.
        # PySpark 4 captures a Python call-site string (a full stack
        # walk + one extra JVM roundtrip) for EVERY DataFrame/Column
        # op to enrich error messages; the engine builds plans with
        # thousands of Column ops per batch, where this measured
        # ~10-15% of driver-side plan-construction time. Trade: error
        # messages lose the user-code line pointer.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # AQE coalescing's 1MB min-partition floor serializes SMALL
        # shuffles onto fewer tasks than cores (a steady micro-batch
        # merge ran 16 tasks on 32 cores); at scale partitions are
        # sized by totalBytes/parallelism >> any floor, so lowering it
        # only restores parallelism in the small-shuffle regime. The
        # floor stays scale-adaptive: AQE still targets
        # max(total/defaultParallelism, this).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                aqe_min_partition)
        # NOTE measured non-win (r8): raising
        # spark.sql.sources.parallelPartitionDiscovery.threshold to
        # keep manifest-known file lists off the distributed-listing
        # job path cut pure read()-plan construction 5x in isolation
        # (0.20s -> 0.04s per read), but interleaved suite runs showed
        # no reproducible end-to-end win (FileStatusCache already
        # absorbs repeats), and serial listing is an object-store
        # regression risk. Left at Spark's default.
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
