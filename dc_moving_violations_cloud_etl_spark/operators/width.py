"""The engine's one partition-width policy: explicit spreads run at the
session's default parallelism (the core count locally, the executor
slot total on a cluster).

Two things leave a stage 1-3 tasks wide without a spread: a small
source that arrives as one input split, and AQE coalescing a shuffle of
array payloads whose size stats undersell them ~20x. ``spread`` always
passes the number, which Spark treats as a user-specified width and
never coalesces. Each call site says why it spreads where it does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def parallelism(spark: SparkSession) -> int:
    return spark.sparkContext.defaultParallelism


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned on ``keys`` (round-robin when none) at
    ``parallelism``."""
    return df.repartition(parallelism(df.sparkSession), *keys)
