"""Watermark late-data DROP accounting — the observability side of the
watermark contract: feed a watermarked daily aggregation an ordered
backlog whose LAST file is entirely below the already-propagated
watermark, and reconcile three numbers that operators dashboard at
scale: sealed windows emitted, events inside them, and the engine's own
``stateOperators[].numRowsDroppedByWatermark`` telemetry.

Determinism: the operative watermark lags one batch under availableNow
(the watermark used in batch N is computed from batches < N), so the
backlog is staged as THREE files with pinned mtimes — the bulk
(containing the global max event time) first, a mid-range file second
to absorb the one-batch lag, and the late stragglers third. By batch 3
the operative watermark is ``max(on-time ts) - 1 day``; every late row's
day-window end sits weeks below it, so the drop set is exactly the late
file and the metric equals its row count — analytically recomputable,
which is what makes this lifecycle oracle-twinnable.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import base
from ..scratch import private_dir, staged
from .daily import PROGRESS_LEDGER, _drain_memory_sink, _run_to_completion

# late = days strictly before this bound; the mid file absorbs the
# one-batch watermark lag; the bulk file holds the global max event time
LATE_BOUND = "2024-01-06"
MID_BOUND = "2024-01-18"


def _latedrop_writer(spark: SparkSession, sf_dir: str):
    """A ``scratch.staged`` writer that stages the fixture as (bulk,
    mid, late) parquet files with ascending pinned mtimes, so the file
    source (oldest-first) replays them in that order."""

    def write(out: str) -> None:
        os.makedirs(out)
        ev = base(spark, sf_dir, "events")
        parts = [
            ("f1_bulk", ev.where(F.col("ts") >= MID_BOUND), 1_000_000),
            (
                "f2_mid",
                ev.where(
                    (F.col("ts") >= LATE_BOUND) & (F.col("ts") < MID_BOUND)
                ),
                2_000_000,
            ),
            ("f3_late", ev.where(F.col("ts") < LATE_BOUND), 3_000_000),
        ]
        for name, df, mtime in parts:
            sub = os.path.join(out, f"_{name}")
            df.coalesce(1).write.parquet(sub)
            src = next(
                f for f in os.listdir(sub) if f.endswith(".parquet")
            )
            dst = os.path.join(out, f"{name}.parquet")
            os.rename(os.path.join(sub, src), dst)
            os.utime(dst, (mtime, mtime))
            shutil.rmtree(sub, ignore_errors=True)

    return write


def late_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the daily windowed count under a 1-day watermark over the
    (bulk, mid, late) backlog at ``maxFilesPerTrigger=1`` and reconcile
    the books: emitted sealed windows + their event totals from the
    sink, dropped-late total from the engine's progress telemetry."""
    stage = staged("latedrop", sf_dir, _latedrop_writer(spark, sf_dir))
    tag = hashlib.md5(f"latedrop:{sf_dir}".encode()).hexdigest()[:8]
    name = f"stream_latedrop_{tag}"

    # the stage holds normalized rows, so it has base's schema
    ev = (
        spark.readStream.schema(base(spark, sf_dir, "events").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    ckpt = private_dir("latedrop_ckpt")
    try:
        _run_to_completion(
            spark,
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    import json as _json

    # ledger entries are (name, trail); match by THIS query's name from
    # the end — index arithmetic would break if the bounded ledger
    # trimmed older entries between the len() snapshot and the append
    trail = next(
        (batches for n, batches in reversed(PROGRESS_LEDGER) if n == name),
        [],
    )
    dropped = 0
    late_batch_rows = 0
    for p in trail:
        if not isinstance(p, dict):
            p = _json.loads(p.json)
        if p.get("numInputRows", 0) > 0:
            late_batch_rows = p["numInputRows"]  # last non-empty = late file
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)

    # numRowsDroppedByWatermark counts rows reaching the STATE operator
    # — i.e. post-partial-aggregation rows (one per late window per map
    # task), an engine-internal grain no oracle should pin. The exact
    # row accounting comes from the books instead: the late batch's
    # numInputRows (the whole late file) plus the sink holding ONLY
    # on-time sealed windows — had any late row slipped into state, its
    # long-sealed window would emit and n_sealed_days would grow. The
    # telemetry is kept as a must-be-nonzero tripwire.
    sealed = spark.table(name).agg(
        F.count(F.lit(1)).cast("long").alias("n_sealed_days"),
        F.sum("n").cast("long").alias("n_events_emitted"),
    )
    return _drain_memory_sink(
        spark,
        name,
        sealed.select(
            "n_sealed_days",
            "n_events_emitted",
            F.lit(late_batch_rows).cast("long").alias("n_late_batch_rows"),
            F.lit(dropped > 0).alias("drop_telemetry_nonzero"),
        ),
    )
