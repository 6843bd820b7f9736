"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (SURVEY.md §2.J — the extension point for
operators Spark's built-in windows can't express; the built-in
``session_window`` twin lives in queries/extensions.sessionize_gap30).

The state function is generic multi-batch sessionization: it carries the
open session (start, last, count) across micro-batches in GroupState and
emits a session when the 30-min inactivity gap closes it. Driven with
``availableNow`` over the parquet-staged events fixture the input is one
batch, so every session closes in-batch and the final flush emits the
tail sessions — making the result deterministic and equal to the batch
gaps-and-islands SQL, which is exactly what the DuckDB oracle runs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import event_stream
from .daily import _drain_memory_sink, _run_to_completion

GAP_MS = 30 * 60 * 1000

OUTPUT_SCHEMA = (
    "user_id long, session_start string, session_last string, n_events long"
)
STATE_SCHEMA = "start long, last long, n long"


def _make_sessionize_fn():
    """Build the state function as a CLOSURE so cloudpickle ships it BY
    VALUE: a module-level function pickles by reference, and workers in
    a caller-supplied session (the driver's harness) may not have this
    package on their PYTHONPATH. Body is self-contained (pandas+stdlib
    only)."""
    gap_ms = GAP_MS

    def _sessionize_fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts_ms: list[int] = []
        for pdf in pdfs:
            ts_ms.extend(int(t.value // 1_000_000) for t in pdf["ts"])
        ts_ms.sort()

        if state.exists:
            start, last, n = state.get
        else:
            start = last = -1
            n = 0

        out: list[tuple[int, int, int, int]] = []  # (start, last, n)
        for t in ts_ms:
            if start < 0:
                start, last, n = t, t, 1
            elif t - last >= gap_ms:
                out.append((user_id, start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1

        # batch end == stream end under availableNow: flush the open session
        if start >= 0:
            out.append((user_id, start, last, n))
            state.remove()
        else:
            state.update((start, last, n))

        def fmt(ms: int) -> str:
            return pd.Timestamp(ms, unit="ms").strftime("%Y-%m-%d %H:%M:%S")

        yield pd.DataFrame(
            {
                "user_id": [u for u, _, _, _ in out],
                "session_start": [fmt(s) for _, s, _, _ in out],
                "session_last": [fmt(e) for _, _, e, _ in out],
                "n_events": [n for _, _, _, n in out],
            }
        )

    return _sessionize_fn


def stateful_sessions_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream → applyInPandasWithState sessionization → memory
    sink, returned as a batch DataFrame (deterministic under
    availableNow; oracle = gaps-and-islands SQL)."""
    tag = hashlib.md5(f"state:{sf_dir}".encode()).hexdigest()[:8]
    name = f"stateful_sessions_{tag}"

    events = event_stream(spark, sf_dir)

    sessions = (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionize_fn(),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    _run_to_completion(
        spark,
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark, name, spark.table(name).orderBy("user_id", "session_start")
    )
