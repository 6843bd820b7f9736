"""Custom Python STREAMING DataSource (Spark 4 API): the reference's
daily high-watermark incremental ingest as a first-class streaming
source with engine-managed offsets.

The reference's Lambda resumes from ``SELECT MAX(violation_date)`` and
loops one day at a time (reference etl/daily_load/violation_etl_daily.py
:120-146, :332-351 — SURVEY.md §2.J1/J2). In Spark's source model that
hand-rolled watermark IS the stream offset: ``initialOffset`` is the
cold start, ``read(start)`` advances the day cursor and returns the new
rows, the checkpoint persists progress, and replay of a committed range
goes through ``readBetweenOffsets`` — exactly-once without any
application-side watermark table.

The day slices come from the parquet fixture via pyarrow (deterministic
stand-in for the per-day HTTP fetch; a live connector would issue the
ArcGIS day query right here). Offsets advance ~a third of the day range
per micro-batch so a drained run provably commits MULTIPLE batches.

Classes are built by a factory so cloudpickle ships them by value (the
executor-side reader must not require this package on PYTHONPATH).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fixture_path
from ..scratch import private_dir
from .daily import _drain_memory_sink

STREAM_SOURCE_NAME = "daily_ingest_source"


def make_daily_ingest_source():
    """Build (by value) the streaming DataSource class."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    source_name = STREAM_SOURCE_NAME

    class _DailyReader(SimpleDataSourceStreamReader):
        """Offset = index into the sorted distinct day list (the
        reference's MAX(date) watermark, engine-managed)."""

        def __init__(self, options):
            self.path = options["path"]
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(self.path, columns=["ts"])
            days = pc.unique(pc.cast(t["ts"], "date32")).to_pylist()
            self.days = sorted(str(d) for d in days)
            # ~3 micro-batches per drain, at any fixture scale
            self.days_per_batch = max(1, -(-len(self.days) // 3))

        def initialOffset(self):
            # the reference's cold-start default watermark (J3)
            return {"day_idx": 0}

        def read(self, start):
            i = start["day_idx"]
            j = min(i + self.days_per_batch, len(self.days))
            return self._rows(i, j), {"day_idx": j}

        def readBetweenOffsets(self, start, end):
            # deterministic replay of a committed range (J5 idempotency)
            return self._rows(start["day_idx"], end["day_idx"])

        def _rows(self, i, j):
            # Yield pyarrow RecordBatches, NOT python tuples: the
            # runner's records_to_arrow_batches passes batches through
            # verbatim, so the day slice never round-trips through
            # per-row python objects (measured solo at sf0.1: ~5.6 s
            # warm with tuple-zip rows, ~3.7 s with batches — the
            # rest is the 3-micro-batch lifecycle itself). Must stay
            # a list-backed iterator — getCache copy.copy()s it for
            # replay.
            if i >= j:
                return iter([])
            import datetime

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            lo = datetime.date.fromisoformat(self.days[i])
            hi = datetime.date.fromisoformat(self.days[j - 1])
            t = pq.read_table(
                self.path,
                columns=["event_id", "ts", "user_id", "event_type", "value"],
            )
            d = pc.cast(t["ts"], "date32")
            t = t.filter(
                pc.and_(pc.greater_equal(d, lo), pc.less_equal(d, hi))
            )
            out = pa.table(
                {
                    "event_id": pc.cast(t["event_id"], pa.int64()),
                    "ts_us": pc.cast(
                        pc.cast(t["ts"], pa.timestamp("us")), pa.int64()
                    ),
                    "user_id": pc.cast(t["user_id"], pa.int64()),
                    "event_type": pc.cast(t["event_type"], pa.string()),
                    "value": pc.cast(t["value"], pa.float64()),
                }
            )
            return iter(out.to_batches(max_chunksize=65536))

    class DailyIngestDataSource(DataSource):
        @classmethod
        def name(cls):
            return source_name

        def schema(self):
            return (
                "event_id long, ts_us long, user_id long, "
                "event_type string, value double"
            )

        def simpleStreamReader(self, schema):
            return _DailyReader(self.options)

    return DailyIngestDataSource


STREAM_SOURCE_PARTITIONED_NAME = "daily_ingest_source_partitioned"


def make_daily_ingest_source_partitioned():
    """Build (by value) the PARTITION-BASED streaming DataSource — the
    high-throughput sibling of ``make_daily_ingest_source`` and the
    documented 100 TB upgrade path (SCALING.md): offsets are still the
    day cursor, but ``partitions(start, end)`` emits ONE InputPartition
    PER DAY in the planned range and ``read(partition)`` runs on the
    EXECUTORS, streaming each day's slice as pyarrow RecordBatches with
    the day predicate pushed into the parquet read. The driver touches
    only the day list; data never crosses the driver — the shape a
    1000-executor backfill needs, vs the simple reader's driver-side
    prefetch (right for low-throughput control-plane feeds).

    Deliberately NO batch pacing: ``latestOffset`` always reports the
    full available day range. The python streaming API has no
    admission control (the engine never passes the committed offset to
    ``latestOffset``), so any paced cursor is process-local state that
    a checkpoint restart resets — measured here: after a mid-drain
    restart the fresh cursor made offsets go BACKWARD in the log
    (20 -> 10), the engine re-planned an already-applied range, and
    the complete-mode aggregate double-counted 354 rows. A full-range
    latestOffset is restart-safe by construction (replay of the one
    in-flight batch is deterministic via partitions(start, end));
    multi-batch pacing remains the SIMPLE reader's demonstration
    property, where prefetch and offset advance are a single
    driver-side step the engine itself journals.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    source_name = STREAM_SOURCE_PARTITIONED_NAME

    class _DayPartition(InputPartition):
        def __init__(self, path: str, day: str):
            self.path = path
            self.day = day

    class _PartitionedDailyReader(DataSourceStreamReader):
        def __init__(self, options):
            self.path = options["path"]
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(self.path, columns=["ts"])
            days = pc.unique(pc.cast(t["ts"], "date32")).to_pylist()
            self.days = sorted(str(d) for d in days)

        def initialOffset(self):
            return {"day_idx": 0}

        def latestOffset(self):
            # the FULL available range, never a paced cursor — see the
            # restart-safety note in the factory docstring
            return {"day_idx": len(self.days)}

        def partitions(self, start, end):
            # one executor task per day: the fan-out the simple reader
            # cannot express
            return [
                _DayPartition(self.path, d)
                for d in self.days[start["day_idx"] : end["day_idx"]]
            ]

        def read(self, partition):
            # EXECUTOR-side: one day slice, day predicate pushed to the
            # parquet scan, streamed as arrow batches (never python rows)
            import datetime

            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            lo = datetime.datetime.combine(
                datetime.date.fromisoformat(partition.day),
                datetime.time.min,
            )
            hi = lo + datetime.timedelta(days=1)
            t = pq.read_table(
                partition.path,
                columns=["event_id", "ts", "user_id", "event_type", "value"],
                filters=[("ts", ">=", lo), ("ts", "<", hi)],
            )
            out = pa.table(
                {
                    "event_id": pc.cast(t["event_id"], pa.int64()),
                    "ts_us": pc.cast(
                        pc.cast(t["ts"], pa.timestamp("us")), pa.int64()
                    ),
                    "user_id": pc.cast(t["user_id"], pa.int64()),
                    "event_type": pc.cast(t["event_type"], pa.string()),
                    "value": pc.cast(t["value"], pa.float64()),
                }
            )
            return iter(out.to_batches(max_chunksize=65536))

        def commit(self, end):
            pass

    class DailyIngestPartitionedDataSource(DataSource):
        @classmethod
        def name(cls):
            return source_name

        def schema(self):
            return (
                "event_id long, ts_us long, user_id long, "
                "event_type string, value double"
            )

        def streamReader(self, schema):
            return _PartitionedDailyReader(self.options)

    return DailyIngestPartitionedDataSource


def custom_source_ingest_streaming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Drive the custom daily-ingest streaming source to exhaustion
    (processAllAvailable over a processing-time trigger — the simple
    stream reader advances its own offsets, so availableNow would stop
    after the prefetched first batch) and roll the ingested events up
    per month. Complete-mode output is a full recompute each batch, so
    the final table is independent of the batch slicing — deterministic
    and oracle-checkable."""
    import hashlib

    # fresh offsets every run, private to this process
    ckpt = private_dir("cstream_ckpt")

    spark.dataSource.register(make_daily_ingest_source())
    ev = (
        spark.readStream.format(STREAM_SOURCE_NAME)
        .option("path", fixture_path(sf_dir, "events"))
        .load()
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )
    agg = ev.groupBy(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias(
            "event_month"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )

    name = "custom_ingest_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    from .daily import STREAM_SHUFFLE_PARTITIONS

    try:
        old = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        old = None
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
    )
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(processingTime="0 seconds")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            try:
                from .daily import record_progress

                record_progress(
                    q.name or str(q.id), [p for p in q.recentProgress if p]
                )
            except Exception:  # noqa: BLE001 - audit trail is best-effort
                pass
            q.stop()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(ckpt, ignore_errors=True)

    return _drain_memory_sink(
        spark, name, spark.table(name).orderBy("event_month")
    )
