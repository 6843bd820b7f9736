"""Rate-limited streaming backfill: ``maxFilesPerTrigger`` bounds each
micro-batch so a historical catch-up run proceeds in fixed-size steps
instead of one giant batch — the operational lever that keeps a
1000-executor backfill from sizing its first micro-batch to the whole
backlog (state stores, shuffle buffers, and sink transactions are all
per-batch; an unbounded batch is the classic backfill OOM).

Under ``availableNow`` the source still drains the full backlog, but as
``ceil(n_files / maxFilesPerTrigger)`` ordered micro-batches — the
per-batch telemetry here is the auditable evidence of that pacing.
"""

from __future__ import annotations

import hashlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fixture_schema, raw
from ..scratch import private_dir, staged
from .daily import PROGRESS_LEDGER, _run_to_completion

N_BACKFILL_FILES = 4

# per-invocation suffix for the streaming query name: record_progress
# is best-effort (it swallows exceptions), so a qname reused across
# runs could silently report a STALE trail from an earlier median-of-3
# pass as this run's pacing (ADVICE r12). A unique qname makes a
# missing trail surface as n_batches=0 — loudly wrong — instead of
# stale-but-plausible counts.
_RUN_SEQ = iter(range(1, 1 << 30))


def multifile_writer(spark: SparkSession, sf_dir: str):
    """A ``scratch.staged`` writer that stages the single-file fixture
    as N_BACKFILL_FILES parquet parts, so the file-stream source has a
    multi-file backlog to pace through."""
    return lambda out: (
        raw(spark, sf_dir, "events")
        .repartition(N_BACKFILL_FILES)
        .write.mode("overwrite")
        .parquet(out)
    )


def rate_limited_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a 4-file backlog at maxFilesPerTrigger=1 and report the
    pacing: exactly one non-empty micro-batch per file, total rows
    equal to the batch-count sum (nothing dropped or duplicated), and
    every batch strictly smaller than the backlog (the bound held).

    The pacing telemetry comes from the engine's own progress trail
    (``numInputRows`` per micro-batch, the same evidence a production
    backfill monitors) over a noop sink. The earlier form counted each
    batch inside ``foreachBatch``, adding a driver-side py4j callback
    plus a SECOND job per micro-batch — synchronous round-trips that
    stretched this query 1.1 -> 19.9 s under co-tenant host load
    (VERDICT r11 rec #3: the property here is batch-count arithmetic,
    not callback throughput, so the extra per-batch work was pure
    contention surface)."""
    stage = staged("backfill", sf_dir, multifile_writer(spark, sf_dir))
    tag = hashlib.md5(f"backfill:{sf_dir}".encode()).hexdigest()[:8]
    qname = f"rate_limited_backfill_{tag}_{next(_RUN_SEQ)}"

    # INTENTIONAL normalize_event_ts exception (ADVICE r12): every
    # other streaming reader routes events through catalog.
    # normalize_event_ts (the ts-dtype choke point), but this stream is
    # count-only — the plan prunes to a constant column before the sink,
    # so ts never reaches an event-time operator and the raw fixture
    # schema is the correct one for footer-metadata row counts.
    schema = fixture_schema(spark, sf_dir, "events")
    # numInputRows is a SOURCE-side count, so the sink plan prunes to a
    # constant column: the vectorized parquet reader then serves row
    # counts from footer metadata instead of materializing all six
    # event columns per micro-batch (the old foreachBatch count()
    # pruned the same way; the first noop form did not, and read ~2x
    # slower at sf0.1)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .select(F.lit(1).alias("one"))
    )

    # fresh checkpoint per run: this query MEASURES the drain pacing, so
    # a warm checkpoint (which would legitimately process zero batches)
    # is the wrong fixture — unlike filesink.py, whose warm-replay
    # no-op IS the property under test
    ckpt = private_dir("backfill_ckpt")
    try:
        _run_to_completion(
            spark,
            stream.writeStream.format("noop")
            .queryName(qname)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    # most recent trail for this query name (latedrop.py pattern)
    trail = next(
        (t for n, t in reversed(PROGRESS_LEDGER) if n == qname), []
    )
    batches = [
        int(p["numInputRows"])
        for p in trail
        if p.get("numInputRows", 0) > 0
    ]
    total = sum(batches)
    out = spark.createDataFrame(
        [
            (
                len(batches),
                total,
                bool(batches) and all(n < total for n in batches),
            )
        ],
        "n_batches int, n_events long, batches_bounded boolean",
    )
    return out.select(
        F.col("n_batches").cast("long").alias("n_batches"),
        "n_events",
        "batches_bounded",
    )
