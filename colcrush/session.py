"""SparkSession factory tuned for the colcrush engine.

Local mode here is a proxy for a multi-executor cluster: settings are
chosen so the same code scales (AQE on, shuffle partitions ~ cores,
Arrow batches sized for the codec layer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def shuffle_compress(value: str, ram_backed: bool) -> bool:
    """Parse COLCRUSH_SHUFFLE_COMPRESS: ``auto`` (compress unless the
    local dir is RAM-backed), ``1/true/yes`` or ``0/false/no``,
    case-insensitive. Any other value raises instead of silently
    turning compression off."""
    v = value.strip().lower()
    if v == "auto":
        return not ram_backed
    if v in ("1", "true", "yes"):
        return True
    if v in ("0", "false", "no"):
        return False
    raise ValueError(
        f"COLCRUSH_SHUFFLE_COMPRESS must be auto, 1/true/yes or "
        f"0/false/no, got {value!r}"
    )


def get_spark(
    app: str = "colcrush",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(8, cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    # RAM-backed shuffle dirs when available: local-mode shuffles
    # otherwise serialize through one disk and cap scaling (on a real
    # cluster every executor brings its own shuffle disks)
    shm = os.path.isdir("/dev/shm")
    if shm:
        shuffle_dir = "/dev/shm/colcrush-spark-local"
        os.makedirs(shuffle_dir, exist_ok=True)
        b = b.config("spark.local.dir", shuffle_dir)
    # Shuffle compression is parameterised (COLCRUSH_SHUFFLE_COMPRESS,
    # parsed by shuffle_compress): compressing blocks headed to a
    # RAM-backed local dir is pure CPU — no disk or network exists for
    # the smaller bytes to help — so "auto" (default) turns it off
    # exactly when the RAM-backed dir above is in use. A cluster
    # deployment configures executors via spark-submit, not this
    # local-mode factory, and keeps Spark's default (on): there shuffle
    # bytes cross real disks and NICs, where compression earns its
    # CPU. On hosts with a SMALL /dev/shm (e.g. a container's default
    # 64 MB) uncompressed shuffle files fill the tmpfs sooner — set
    # COLCRUSH_SHUFFLE_COMPRESS=1 (or point spark.local.dir elsewhere)
    # as the escape hatch.
    comp_on = shuffle_compress(
        os.environ.get("COLCRUSH_SHUFFLE_COMPRESS", "auto"), shm
    )
    b = b.config("spark.shuffle.compress", str(comp_on).lower()).config(
        "spark.shuffle.spill.compress", str(comp_on).lower()
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
