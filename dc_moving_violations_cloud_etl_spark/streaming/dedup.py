"""Streaming exact deduplication (``dropDuplicatesWithinWatermark``) —
the streaming counterpart of the batch exact-dedup operator: dedup state
is scoped to the watermark horizon, so state size is bounded by the
event-time window rather than growing with the stream. That bound is
what makes exact dedup feasible on an unbounded 100 TB/day feed; the
batch hash-groupBy twin (operators/dedup.py) needs the whole corpus.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import event_stream, fixture_path
from ..scratch import links, staged
from .daily import _drain_memory_sink, _run_to_completion


def dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup on ``event_id`` under a 1-day watermark:
    the file source delivers every event twice (doubled staging); the
    dedup emits each event_id's first arrival and drops the rest, with
    per-key state evicted once the watermark passes its event time.
    Emitted rows land in a memory sink and are rolled up per day in
    batch — deterministic under availableNow, so the DuckDB twin is a
    plain per-day distinct count over the (single-copy) fixture."""
    path = fixture_path(sf_dir, "events")
    tag = hashlib.md5(f"dedup:{sf_dir}".encode()).hexdigest()[:8]
    name = f"stream_dedup_{tag}"

    def doubled(d: str) -> None:
        # TWO links to the same fixture file, so the stream provably
        # contains duplicates (each event arrives twice, possibly
        # across micro-batches) and the dedup has real work to do
        links(path)(d)
        os.symlink(path, os.path.join(d, "copy2_" + os.path.basename(path)))

    events = event_stream(spark, sf_dir, staged("dedup", sf_dir, doubled))

    deduped = (
        events.select("event_id", "ts")
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )

    _run_to_completion(
        spark,
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "event_day"
            )
        )
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
        .orderBy("event_day"),
    )
