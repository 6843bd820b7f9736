"""Arbitrary stateful streaming via ``transformWithStateInPandas`` —
Spark 4's successor API to ``applyInPandasWithState`` (SURVEY.md §2.J
extension point; the GroupState twin lives in streaming/stateful.py).

Differences this demonstrator exercises deliberately:

* typed, NAMED state variables through ``StatefulProcessorHandle``
  (``getValueState``) instead of a single tuple-shaped GroupState;
* the RocksDB state-store provider, which the API requires — the
  store survives micro-batch boundaries on disk, the production shape
  for state far larger than executor memory;
* REAL multi-batch execution: the events fixture is staged as two
  files (even/odd event_id, shared with the foreachBatch upsert) and
  read one file per trigger, so the second micro-batch genuinely
  reads back RocksDB state written by the first.

The processor keeps one running (count, cents-sum) per user and emits
the cumulative snapshot each time a batch touches the user. The count
is strictly monotone, so the final per-user row is the emission with
the highest ``cum_n`` (``max_by`` for the cents — sign-safe) —
deterministic regardless of batch slicing, hence fully oracle-checkable
against the flat per-user aggregate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import event_stream
from ..scratch import staged
from .daily import _drain_memory_sink, _run_to_completion
from .upsert import split_writer

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

OUTPUT_SCHEMA = "user_id long, cum_n long, cum_cents long"


def _make_processor():
    """Build the StatefulProcessor INSIDE a factory so cloudpickle ships
    the class by value (a module-level class pickles by reference, and
    the driver harness's workers may not have this package on their
    PYTHONPATH — same contract as streaming/stateful.py)."""
    import pandas as pd
    from pyspark.sql.streaming import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import StructType

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", StructType.fromDDL("n long, s long")
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            n = 0
            s = 0
            for pdf in rows:
                n += len(pdf)
                # pandas sum skips NULL-born NaNs, matching SQL SUM
                s += int(pdf["cents"].sum())
            if self._agg.exists():
                prev = self._agg.get()
                n += int(prev[0])
                s += int(prev[1])
            self._agg.update((n, s))
            yield pd.DataFrame(
                {"user_id": [user_id], "cum_n": [n], "cum_cents": [s]}
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def transform_with_state_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events stream (2 files, 1 per trigger) →
    ``transformWithStateInPandas`` running per-user totals on RocksDB
    state → memory sink; final = each user's LAST cumulative
    emission."""
    name = "tws_totals_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]

    # the even/odd split staged for the foreachBatch upsert
    events = event_stream(
        spark,
        sf_dir,
        staged("split", sf_dir, split_writer(spark, sf_dir)),
        maxFilesPerTrigger="1",
    )
    keyed = events.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    totals = keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )

    # transformWithState requires the RocksDB provider; the conf is read
    # at query START, so set it for this query and always restore the
    # session's provider for the other streaming demonstrators.
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        old = spark.conf.get(conf_key)
    except Exception:
        old = None
    spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
    try:
        _run_to_completion(
            spark,
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True),
        )
    finally:
        if old is not None:
            spark.conf.set(conf_key, old)
        else:
            spark.conf.unset(conf_key)

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("cum_n").cast("long").alias("n_events"),
            # the LATEST emission (highest cum_n), not max of the cents
            # column: cum_cents is monotone only for non-negative values,
            # and the two maxima could otherwise come from different
            # batches if a refund-style negative value ever appears
            F.expr("max_by(cum_cents, cum_n)")
            .cast("long")
            .alias("sum_cents"),
        )
        .orderBy("user_id"),
    )
