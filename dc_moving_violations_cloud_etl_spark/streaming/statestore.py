"""State-store introspection: Spark 4's ``statestore`` /
``state-metadata`` batch DataFrame readers over a streaming query's
checkpoint (SURVEY.md §2.J operational surface).

The reference debugs its incremental state by querying the MySQL table
it writes (DEPLOYMENT.md verification queries); the Structured
Streaming analog is reading the OPERATOR STATE itself — the keyed
running aggregates inside the checkpoint — as an ordinary DataFrame,
without touching the running query. That is how a production operator
inspects / audits / repairs streaming state at scale: the reader
parallelizes over state-store partitions like any other source.

Determinism: the demonstrator runs a per-type streaming count to
completion (availableNow) against a fixture-identity-keyed checkpoint,
then reads the final state back. The state equals the flat batch
aggregate, so the DuckDB oracle is exact. Re-runs over an existing
checkpoint see no new files, commit no new batch, and read identical
state — idempotent by construction.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import event_stream
from ..scratch import fixture_dir
from .daily import _drain_memory_sink, _run_to_completion


def _ensure_checkpoint(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Drive the per-type streaming count to completion for this fixture
    (once) and return ``(ckpt, name)``. The memory sink cannot RESUME
    from a checkpoint (by design — its output lives in driver memory),
    so the stream is driven only when this fixture's checkpoint holds no
    committed batch yet; afterwards the state alone answers, which is
    the point of the demonstrators: state outlives the query and its
    sink. Also force-creates the driver's StateStoreCoordinator RPC
    endpoint (registered lazily with a session's FIRST streaming query)
    so the warm path's executor-side state readers can resolve it."""
    tag = hashlib.md5(f"ssread:{sf_dir}".encode()).hexdigest()[:8]
    ckpt = fixture_dir("ssread_ckpt", sf_dir, "events.parquet")
    name = f"ssread_{tag}"

    commits = os.path.join(ckpt, "commits")
    committed = os.path.isdir(commits) and any(
        not e.startswith(".") for e in os.listdir(commits)
    )
    if not committed:
        shutil.rmtree(ckpt, ignore_errors=True)  # partial run → start over
        events = event_stream(spark, sf_dir)
        agg = events.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        _run_to_completion(
            spark,
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )
    spark._jsparkSession.sessionState().streamingQueryManager().stateStoreCoordinator()
    return ckpt, name


def statestore_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive a per-type streaming count to completion, then read the
    keyed state out of the checkpoint with the ``statestore`` reader."""
    ckpt, name = _ensure_checkpoint(spark, sf_dir)

    # the sink output is irrelevant here — the result comes from the
    # operator state; _drain_memory_sink drops the memory table
    state = spark.read.format("statestore").load(ckpt)
    return _drain_memory_sink(
        spark,
        name,
        state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
        ).orderBy("event_type"),
    )


def statestore_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``state-metadata`` sibling reader: the checkpoint's operator
    metadata (which stateful operators exist, their store names, state
    partition counts, committed batch range) as a DataFrame — what an
    operator consults before repartitioning state or planning a
    state-aware migration. Fully deterministic for this demonstrator:
    one aggregation operator, stream-sized partitions
    (``STREAM_SHUFFLE_PARTITIONS``), a single availableNow commit."""
    ckpt, name = _ensure_checkpoint(spark, sf_dir)
    meta = spark.read.format("state-metadata").load(ckpt)
    return _drain_memory_sink(
        spark,
        name,
        meta.select(
            F.col("operatorId").cast("long").alias("operator_id"),
            F.col("operatorName").alias("operator_name"),
            F.col("stateStoreName").alias("store_name"),
            F.col("numPartitions").cast("long").alias("n_state_partitions"),
            F.col("minBatchId").cast("long").alias("min_batch_id"),
            F.col("maxBatchId").cast("long").alias("max_batch_id"),
        ).orderBy("operator_id"),
    )
