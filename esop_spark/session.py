"""SparkSession factory.

Defaults are chosen for correctness-at-scale:

- AQE on (runtime re-planning, skew-join handling, partition coalescing).
- UTC session timezone so timestamp semantics match the DuckDB oracle and are
  deployment-independent.
- Arrow execution on for the (rare) pandas-UDF paths.
- ``spark.sql.shuffle.partitions`` sized for the local test harness; on a real
  cluster AQE coalescing makes the static number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "esop-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    console_progress: bool = True,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # static conf — only honored by the session that creates the JVM;
        # sweep tools pass False so result lines never merge with \r bars
        .config("spark.ui.showConsoleProgress", str(console_progress).lower())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # managed-table state (bucketed materializations) stays out of the repo
        .config("spark.sql.warehouse.dir", "/tmp/esop-spark-warehouse")
        .getOrCreate()
    )
    # getOrCreate() silently reuses an existing session, and showConsoleProgress
    # is static (JVM-creation-time only) — so a caller asking for a different
    # value than the live session carries would get a silent no-op. Warn loudly:
    # sweep tools rely on console_progress=False to keep one result line per
    # query (\r progress bars merge lines otherwise).
    actual = spark.conf.get("spark.ui.showConsoleProgress", "true")
    if actual != str(console_progress).lower():
        import warnings

        warnings.warn(
            f"get_spark(console_progress={console_progress}) reused an existing "
            f"SparkSession with spark.ui.showConsoleProgress={actual}; the "
            "static conf cannot change after JVM start — create the session "
            "first (or spark.stop() it) to honor the requested value",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark
