"""SparkSession factory with scale-appropriate defaults.

Targets a multi-executor cluster; on this sandbox it runs ``local[N]``.
All knobs here matter at 100 TB: AQE for runtime re-planning and skew-join
splitting, Arrow for pandas conversions (``toPandas``, ``createDataFrame``
from pandas), and bounded Arrow batch sizes for the ``mapInArrow``
extraction and the pandas UDFs, so one heavy-tailed document batch can't
blow executor memory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# 8g GC-thrashes the 32-thread text workloads (quality_filters measured
# 16.7 s at 8g vs 13.2 s at 32g cold on a 32-core, 128 GiB host), so local
# mode asks for 24g where the host has room for it.
DRIVER_MEMORY_GB = 24
# Share of the host's MemTotal the driver heap may take: the JVM grows its
# heap lazily up to -Xmx, so a 24g default on a 15 GiB host gets the whole
# test JVM killed by the kernel's OOM killer well before Java would raise.
DRIVER_MEMORY_SHARE = 0.5


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` default: DRIVER_MEMORY_GB, capped at
    DRIVER_MEMORY_SHARE of the host's MemTotal (read from ``meminfo``;
    uncapped when that file is missing or unreadable)."""
    try:
        with open(meminfo, encoding="ascii") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEMORY_GB}g"
    cap_mb = int(total_kb * DRIVER_MEMORY_SHARE) // 1024
    if cap_mb >= DRIVER_MEMORY_GB * 1024:
        return f"{DRIVER_MEMORY_GB}g"
    return f"{max(cap_mb, 1024)}m"


def get_spark(
    app_name: str = "pdf_to_epub_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # UTC everywhere: testdata timestamps are NTZ, but pinning the
        # session TZ keeps any tz-aware casts aligned with DuckDB oracles.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing OFF, skew-join ON: this engine sizes shuffle partitions
        # explicitly (≈cores), and AQE's size-based coalescing underestimates
        # wide block/text rows — measured on the 20k-doc assembly shuffle it
        # collapses the agg to ~3 active cores (2-3× wall).  Re-enable with a
        # tuned advisoryPartitionSizeInBytes when partition counts are not
        # explicitly managed.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Documents are large; keep Arrow batches small so a batch of
        # heavy-tailed docs stays within executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # SPARK_GRAFT_DRIVER_MEM wins; see default_driver_memory otherwise.
        # On a real cluster executor memory is set per node in
        # spark-submit (DEPLOYMENT.md).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
