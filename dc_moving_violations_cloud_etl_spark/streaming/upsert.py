"""foreachBatch incremental upsert — the reference's daily cadence
(fetch the new day, UPSERT into the serving table, reference
etl/daily_load/violation_etl_daily.py:318-365) as Structured Streaming:
micro-batches → ``foreachBatch`` merge into a keyed parquet store.

The merge state per key is ASSOCIATIVE — (last-event struct via max,
event count via sum) — so any micro-batch slicing of the input yields
the same final store; driven with ``availableNow`` over the staged
fixture the result is deterministic and fully oracle-checkable.

Scale: the store is a hash-partitioned parquet table; each batch does
one map-side-combined aggregate of the batch plus an equi-join-free
union-aggregate with the store (shuffle on user_id only). This is the
standard streaming-merge shape that replaces the reference's row-at-a-
time ``ON DUPLICATE KEY UPDATE`` loop at 100 TB.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import event_stream, raw
from ..scratch import private_dir, staged
from .daily import _run_to_completion


def _batch_aggregate(df: DataFrame) -> DataFrame:
    """Per-user mergeable state: last event (max over the unique
    (ts, event_id) order) + event count."""
    return df.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("last"),
        F.count(F.lit(1)).alias("n_events"),
    )


def split_writer(spark: SparkSession, sf_dir: str):
    """A ``scratch.staged`` writer that stages the events fixture as TWO
    parquet files (even/odd event_id) so ``maxFilesPerTrigger=1``
    drives REAL multi-batch execution: the second micro-batch exercises
    the store read-merge-rewrite path, not just the initial write. The
    split is deterministic so re-runs see identical batches."""

    def write(out: str) -> None:
        src = raw(spark, sf_dir, "events")
        for i in (0, 1):
            (
                src.where(F.col("event_id") % 2 == i)
                .coalesce(1)
                .write.mode("append")
                .parquet(out)
            )

    return write


def incremental_upsert_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream → foreachBatch merge into a keyed parquet store →
    final per-user last-event table. The input is staged as two files
    and read one file per trigger, so the merge genuinely runs
    incrementally across micro-batches (associativity makes the final
    store independent of the slicing — proven in tests)."""
    # store and checkpoint are ONE unit of state, so both live in one
    # per-process dir emptied on every run: a checkpoint left by a
    # killed run ("all input processed") is never resumed against a
    # missing store, and concurrent harnesses never share either
    root = private_dir("upsert")
    store = os.path.join(root, "store")
    ckpt = os.path.join(root, "ckpt")

    events = event_stream(
        spark,
        sf_dir,
        staged("split", sf_dir, split_writer(spark, sf_dir)),
        maxFilesPerTrigger="1",
    )

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        upd = _batch_aggregate(batch_df)
        if os.path.isdir(store):
            cur = sess.read.parquet(store)
            # associative re-aggregate of store ∪ batch state: max of the
            # last-event structs, sum of the counts — same plan shape a
            # MERGE INTO on a keyed table compiles to
            merged = (
                cur.unionByName(upd)
                .groupBy("user_id")
                .agg(
                    F.max("last").alias("last"),
                    F.sum("n_events").alias("n_events"),
                )
            )
        else:
            merged = upd
        out = os.path.join(root, "next")
        merged.write.mode("overwrite").parquet(out)
        shutil.rmtree(store, ignore_errors=True)
        os.rename(out, store)

    try:
        _run_to_completion(
            spark,
            events.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt),
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    return (
        spark.read.parquet(store)
        .select(
            "user_id",
            F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("last.event_type").alias("last_event_type"),
            F.col("last.value").alias("last_value"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )
