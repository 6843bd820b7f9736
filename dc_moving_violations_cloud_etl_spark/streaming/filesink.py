"""Exactly-once streaming file sink (SURVEY.md §2.J sink surface): the
production path a 100 TB ingest actually lands on — append-mode parquet
written by the checkpointed file sink, whose ``_spark_metadata``
manifest makes readers see each committed batch exactly once.

The reference gets idempotent replay from MySQL upserts
(violation_etl_daily.py:120-176, INSERT…ON DUPLICATE KEY); the file-sink
analog is transactional manifest commits: a re-run over the same
checkpoint sees no new input files, commits no batch, and the batch
reader (which trusts the manifest, not the directory listing) returns
the identical table — proven here by answering an aggregate from the
sink's own output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import event_stream
from ..scratch import fixture_dir
from .daily import _run_to_completion


def file_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream → checkpointed append parquet sink → manifest-aware
    batch read of the sink → per-type aggregate (equal to the flat
    batch aggregate over the source)."""
    # the checkpoint records the source dir's path, so this kind must be
    # renamed whenever the source's kind changes: a warm checkpoint over
    # a renamed source fails to resume ("Wrong basePath")
    root = fixture_dir("filesink", sf_dir, "events.parquet")
    out_dir = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    # Drive the sink. On a warm checkpoint the availableNow run sees no
    # new files and commits nothing — the manifest (and therefore the
    # read below) is unchanged: exactly-once across replays.
    events = event_stream(spark, sf_dir)
    projected = events.select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("value_d"),
    )
    _run_to_completion(
        spark,
        projected.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )

    sunk = spark.read.parquet(out_dir)  # honors _spark_metadata manifest
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("event_id").cast("long").alias("n_unique_ids"),
            F.sum("value_d").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )
