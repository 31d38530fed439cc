"""SparkSession factory.

Mirrors the role of the reference's ``TableEnvironmentImpl.create``
(flink-table-api-java/.../internal/TableEnvironmentImpl.java:498) as the
single entry point that wires configuration; here it is just a tuned
SparkSession: AQE on (runtime re-plan ~= Flink's adaptive batch
scheduler), UTC session timezone (oracle comparability), Arrow on
(pandas-UDF fast path), shuffle partitions sized for the harness.

Resources default to this host: ``local[N]`` over the CPUs this process
may run on, and a driver heap of half the physical memory (at least
1 GiB), leaving the rest to Python workers and the OS.
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` override either.

Batch shuffles use one partition per core, at least 8, and AQE
coalesces them at run time. Streaming state partitions are capped at
the cores instead (``streaming.core._start``): each one commits every
micro-batch, used or not. A query's count is fixed in its checkpoint
when it first starts. At cluster scale the same settings hold, and
``spark.sql.shuffle.partitions`` becomes a cluster level knob the
caller overrides via ``extra_conf``.

Python workers import this package through ``spark.executorEnv.PYTHONPATH``
(its parent directory), so Python operators work from any working
directory, and start through :mod:`.worker_daemon`, which imports the
installed pyspark instead of ``pyspark.zip``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package, for the Python workers' imports
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_mem_mib() -> int:
    """This host's MemTotal in MiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kib // 1024


def _host_driver_mem() -> str:
    """Half of MemTotal, at least 1 GiB, as a JVM size."""
    return f"{max(1024, host_mem_mib() // 2)}m"


def get_spark(
    app_name: str = "flink_release_1_16_0_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        # the correctness harness materializes streaming changelogs
        # through the MEMORY sink (driver-side by construction); sf3
        # density replays exceed the 1g default. Production paths
        # write to real sinks and never collect to the driver.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); read as long and convert
        # in catalog.load_table (data has no sub-microsecond components).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
