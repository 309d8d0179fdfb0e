"""SparkSession factory.

Single-JVM local mode for tests/bench; the same configs are what we'd set
cluster-side (AQE, shuffle partitions sized to parallelism, Arrow for the
few Pandas-UDF paths). Everything else — broadcast thresholds, partition
pruning — is left to Catalyst defaults on purpose.

One setting changes no plan, only the driver's bookkeeping: PySpark's
DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``) is
off. With it on, every ``pyspark.sql.functions`` call and Column method
walks the Python stack and makes 4-6 extra py4j round trips to record its
call site — over half of a `revise` round's ~6,300 round trips (PERF.md).
The cost: a runtime error (ANSI cast, ``raise_error``, divide by zero) no
longer names the ``file:line`` of the Column call in its "DataFrame query
context". PySpark reads the flag once per process
(``pyspark.errors.utils.is_debugging_enabled``), so it is set here, in the
builder, not at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "nshm2022db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    local[N] = one JVM, N executor threads; on a real cluster the same plan
    shapes hold — shuffle partitions should then track cluster cores and AQE
    coalesces the rest at runtime.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # split size for file scans: 128m default is right for local SSD;
        # at 100 TB on object storage raise toward 256-512m so task count
        # stays ~4x cores and listing/scheduling overhead amortizes
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "134217728"),
        )
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long ns and convert in the
        # source layer (sources.parquet.read_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # no per-Column-call call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # bucketed tables (sources.parquet.write_bucketed) need a catalog;
        # keep the warehouse + derby metastore out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/derby"
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
