"""SparkSession factory.

The reference delegates execution to MySQL (SURVEY.md §3.3); our engine's
equivalent "server config" lives here. Session timezone is pinned to UTC:
the reference mixes ``utcfromtimestamp`` epoch math with naive dates
(reference etl/daily_load/violation_etl_daily.py:213-224) — UTC everywhere
is the canonical choice (SURVEY.md §7 hard-part 4) and is also required for
hash-parity with the DuckDB oracle, whose timestamps are UTC-naive.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast.
- shuffle.partitions defaults to cores locally; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
- Arrow enabled for the pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dc_moving_violations_cloud_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    so the bench driver and tests share one tuned config.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Python workers inherit PYTHONPATH from the JVM's environment, which
    # inherits ours — exporting the package root here makes pickled-by-
    # reference UDFs importable on workers regardless of the driver's cwd.
    # Must happen before the JVM launches (first getOrCreate).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce stages that scan cached relations — without
        # this a persist() freezes the pre-AQE shuffle partitioning and
        # small cached tables are scanned at shuffle.partitions granularity
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and normalize in catalog.base()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # hugeMethodLimit: Spark's default; an 8000 override lost the r15 A/B
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # saveAsTable target for bucketed layouts — outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
