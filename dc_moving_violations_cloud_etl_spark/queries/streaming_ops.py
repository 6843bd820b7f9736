"""Structured Streaming capability query (SURVEY.md §2.J): the 1-day
tumbling-window rollup driven by a real streaming query (availableNow →
memory sink) — deterministic, so it gets a full DuckDB oracle rather
than the weaker rows-only check."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.daily import daily_rollup_streaming, late_data_watermark_streaming
from ..streaming.stateful import stateful_sessions_streaming
from .registry import QuerySpec, register

register(
    QuerySpec(
        "stream_stateful_sessions",
        stateful_sessions_streaming,
        """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
        doc="Custom stateful operator: per-user sessionization via "
        "applyInPandasWithState (GroupState carried across micro-batches; "
        "deterministic under availableNow, full oracle check against "
        "gaps-and-islands SQL)",
        tags=("streaming", "stateful", "pandas-udf"),
    )
)

register(
    QuerySpec(
        "stream_late_data_watermark",
        late_data_watermark_streaming,
        """
WITH mx AS (SELECT max(ts) AS max_ts FROM events),
daily AS (
  SELECT date_trunc('day', ts) AS d, count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT strftime(w.d, '%Y-%m-%d') AS event_day, w.n_events
FROM daily w, mx
WHERE w.d + INTERVAL 1 DAY <= mx.max_ts - INTERVAL 1 DAY
ORDER BY 1
""",
        doc="J2 completeness delay as real watermark semantics: "
        "withWatermark('ts','1 day') + daily tumbling window in APPEND "
        "mode withholds the trailing incomplete day (reference "
        "violation_etl_daily.py:139-141)",
        tags=("streaming", "watermark"),
    )
)

register(
    QuerySpec(
        "stream_daily_rollup",
        daily_rollup_streaming,
        """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_day,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
        doc="1-day tumbling window x event_type via Structured Streaming "
        "availableNow micro-batch (the reference's daily Lambda cadence, "
        "reference DEPLOYMENT.md:192-214, as a streaming query)",
        tags=("streaming",),
    )
)


from ..streaming.upsert import incremental_upsert_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_foreachbatch_upsert",
        incremental_upsert_streaming,
        """
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_user_events
  FROM events
)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       event_type AS last_event_type,
       value AS last_value,
       CAST(n_user_events AS BIGINT) AS n_events
FROM ranked WHERE rn = 1 ORDER BY user_id
""",
        doc="The reference's daily fetch->UPSERT loop (reference "
        "violation_etl_daily.py:318-365) as streaming: foreachBatch "
        "merges associative per-key state (last-event struct + count) "
        "into a keyed parquet store; deterministic under availableNow",
        tags=("streaming", "sink", "upsert"),
    )
)


from ..streaming.daily import session_window_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_session_window",
        session_window_streaming,
        """
WITH mx AS (SELECT max(ts) - INTERVAL 1 DAY AS wm FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sess AS (
  SELECT user_id,
         min(ts) AS s,
         max(ts) + INTERVAL 30 MINUTE AS e,
         count(*) AS n_events
  FROM numbered GROUP BY user_id, sid
)
SELECT user_id,
       strftime(s, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(e, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events
FROM sess, mx WHERE e < wm
ORDER BY user_id, session_start
""",
        doc="Native streaming session_window (30-min gap, 1-day watermark, "
        "APPEND): Spark's built-in merging-session state machine beside "
        "the custom stateful twin; append emits sessions whose end the "
        "final watermark passed (deterministic under availableNow)",
        tags=("streaming", "session"),
    )
)


from ..streaming.joins import static_join_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_static_join",
        static_join_streaming,
        """
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
""",
        doc="Stream-static enrichment: events stream broadcast-joined to "
        "the static customer dimension per micro-batch (no join state), "
        "aggregated per market segment in complete mode",
        tags=("streaming", "join"),
    )
)


from ..streaming.dedup import dedup_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_dedup_watermark",
        dedup_streaming,
        """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_day,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique_events
FROM events
GROUP BY 1 ORDER BY 1
""",
        doc="Streaming exact dedup: dropDuplicatesWithinWatermark on "
        "event_id over a doubled source (every event arrives twice); "
        "per-key state is evicted at the 1-day watermark horizon — the "
        "bounded-state shape exact dedup needs on an unbounded feed",
        tags=("streaming", "dedup", "watermark"),
    )
)


from ..streaming.joins import interval_join_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_interval_join",
        interval_join_streaming,
        """
WITH errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events
  WHERE event_type = 'error'
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events
  WHERE event_type = 'click'
)
SELECT e.user_id,
       count(*) AS n_pairs,
       CAST(count(DISTINCT e.error_id) AS BIGINT) AS n_errors_matched
FROM errors e JOIN clicks c
  ON e.user_id = c.user_id
 AND c.ts >= e.ts - INTERVAL 300 SECOND
 AND c.ts <= e.ts - INTERVAL 1 SECOND
GROUP BY e.user_id ORDER BY e.user_id
""",
        doc="Stream-stream interval join: two watermarked event streams "
        "joined on key + bounded time range (state expires at the range "
        "horizon — the shape that keeps join state finite at scale); "
        "emitted pairs equal the batch range join under availableNow",
        tags=("streaming", "join"),
    )
)


from ..streaming.source import custom_source_ingest_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_custom_source_ingest",
        custom_source_ingest_streaming,
        """
SELECT strftime(date_trunc('month', ts), '%Y-%m') AS event_month,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1 ORDER BY 1
""",
        doc="custom Python STREAMING DataSource (Spark 4 API): the "
        "reference's MAX(date) high-watermark loop as engine-managed "
        "stream offsets (initialOffset = cold start, read() advances "
        "the day cursor ~1/3 of the range per micro-batch, "
        "readBetweenOffsets replays committed ranges); drained via "
        "processAllAvailable, complete-mode monthly rollup is "
        "slicing-independent hence fully oracle-checked",
        tags=("streaming", "source", "python-datasource"),
    )
)


from ..streaming.daily import update_mode_counts_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_update_mode_counts",
        update_mode_counts_streaming,
        """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type ORDER BY event_type
""",
        doc="UPDATE output mode under real multi-batch execution "
        "(two-file staged input, one file per trigger): per-batch "
        "changed-row emissions reduced by monotone max — completes the "
        "append/complete/update output-mode matrix",
        tags=("streaming", "update-mode"),
    )
)


from ..streaming.tws import transform_with_state_totals  # noqa: E402


def _tws_runtime_available() -> bool:
    """transformWithStateInPandas drives its state server over protobuf
    (pyspark.sql.streaming.proto.StateMessage_pb2) — a runtime dep this
    container does not ship. Gate the registration (container policy:
    import-try, never a guaranteed-red driver row); on any cluster with
    `protobuf` installed the query registers and oracle-checks like the
    rest of the streaming surface (tests/test_streaming_tws.py holds
    both arms of the gate). PERMANENT ENV WAIVER: the driver container
    also lacks protobuf and forbids package installs, so this name can
    never earn an official CORRECTNESS row there — see COVERAGE.md
    'next-gen stateful streaming' for the documented waiver (VERDICT
    r12 rec #5)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_SPEC = QuerySpec(
        "stream_transform_with_state",
        transform_with_state_totals,
        """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
        doc="Spark-4 transformWithStateInPandas: typed named ValueState "
        "on the RocksDB provider, real two-batch execution (one file "
        "per trigger), cumulative per-user totals reduced by monotone "
        "max — the successor API to applyInPandasWithState",
        tags=("streaming", "stateful", "transform-with-state"),
)

if _tws_runtime_available():
    register(_TWS_SPEC)


from ..streaming.statestore import statestore_counts  # noqa: E402

register(
    QuerySpec(
        "stream_statestore_read",
        statestore_counts,
        """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type ORDER BY event_type
""",
        doc="state-store introspection: the `statestore` batch reader "
        "over a completed streaming count's checkpoint — keyed operator "
        "state as an ordinary DataFrame, equal to the flat aggregate",
        tags=("streaming", "statestore", "introspection"),
    )
)


from ..streaming.filesink import file_sink_roundtrip  # noqa: E402

register(
    QuerySpec(
        "stream_file_sink_exactly_once",
        file_sink_roundtrip,
        """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique_ids,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type ORDER BY event_type
""",
        doc="exactly-once streaming file sink: checkpointed append "
        "parquet + _spark_metadata manifest; replay over a warm "
        "checkpoint commits nothing and the manifest-aware batch read "
        "returns the identical table (n_events == n_unique_ids proves "
        "no duplicate landings)",
        tags=("streaming", "sink", "exactly-once"),
    )
)


from ..streaming.statestore import statestore_metadata  # noqa: E402

from ..streaming.daily import STREAM_SHUFFLE_PARTITIONS  # noqa: E402

register(
    QuerySpec(
        "stream_state_metadata_read",
        statestore_metadata,
        f"""
SELECT CAST(0 AS BIGINT) AS operator_id,
       'stateStoreSave' AS operator_name,
       'default' AS store_name,
       CAST({STREAM_SHUFFLE_PARTITIONS} AS BIGINT) AS n_state_partitions,
       CAST(0 AS BIGINT) AS min_batch_id,
       CAST(0 AS BIGINT) AS max_batch_id
""",
        doc="state-metadata reader over the statestore demo checkpoint: "
        "operator inventory, store names, state partition count "
        "(= STREAM_SHUFFLE_PARTITIONS), committed batch range — the "
        "pre-flight for state repartitioning/migration; oracle pins the "
        "deterministic single-operator single-commit shape",
        tags=("streaming", "statestore", "introspection"),
    )
)


from ..streaming.joins import left_outer_join_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_outer_join_sealed",
        left_outer_join_streaming,
        """
WITH mx AS (
  SELECT least(max(ts) FILTER (event_type = 'error'),
               max(ts) FILTER (event_type = 'click')) AS m
  FROM events
),
errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events
  WHERE event_type = 'error'
    AND ts <= (SELECT m FROM mx) - INTERVAL 5400 SECOND
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events
  WHERE event_type = 'click'
),
lj AS (
  SELECT e.user_id, e.error_id, c.click_id
  FROM errors e LEFT JOIN clicks c
    ON e.user_id = c.user_id
   AND c.ts >= e.ts - INTERVAL 300 SECOND
   AND c.ts <= e.ts - INTERVAL 1 SECOND
)
SELECT user_id,
       CAST(count(DISTINCT error_id) AS BIGINT) AS n_errors_sealed,
       CAST(sum(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched_pairs,
       CAST(count(DISTINCT CASE WHEN click_id IS NULL THEN error_id END)
            AS BIGINT) AS n_unmatched_errors
FROM lj GROUP BY user_id ORDER BY user_id
""",
        doc="stream-stream LEFT OUTER join with watermark-driven null "
        "emission: unmatched errors surface once the click watermark "
        "seals their range; compared on the sealed region (post-sink "
        "cutoff = min of both sides' max event time - watermark - "
        "range - slack, since the global watermark trails the lagging "
        "side) against the batch left join",
        tags=("streaming", "join", "outer"),
    )
)


from ..streaming.joins import full_outer_join_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_full_outer_sealed",
        full_outer_join_streaming,
        """
WITH mx AS (
  SELECT least(max(ts) FILTER (event_type = 'error'),
               max(ts) FILTER (event_type = 'click')) AS m
  FROM events
),
errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events
  WHERE event_type = 'error'
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events
  WHERE event_type = 'click'
),
fj AS (
  SELECT e.user_id AS e_user, e.error_id, e.ts AS e_ts,
         c.user_id AS c_user, c.click_id, c.ts AS c_ts
  FROM errors e FULL JOIN clicks c
    ON e.user_id = c.user_id
   AND c.ts >= e.ts - INTERVAL 300 SECOND
   AND c.ts <= e.ts - INTERVAL 1 SECOND
)
SELECT coalesce(e_user, c_user) AS user_id,
       CAST(sum(CASE WHEN error_id IS NOT NULL AND click_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_pairs,
       CAST(count(DISTINCT CASE WHEN click_id IS NULL THEN error_id END)
            AS BIGINT) AS n_unmatched_errors,
       CAST(count(DISTINCT CASE WHEN error_id IS NULL THEN click_id END)
            AS BIGINT) AS n_unmatched_clicks
FROM fj
WHERE coalesce(e_ts, c_ts) <= (SELECT m FROM mx) - INTERVAL 5400 SECOND
GROUP BY coalesce(e_user, c_user)
ORDER BY user_id
""",
        doc="stream-stream FULL OUTER join, the last cell of the "
        "streaming join matrix: two-sided watermark-driven null "
        "emission (unmatched errors AND unmatched clicks), compared on "
        "the two-sided sealed region against the batch full join over "
        "the complete streams with the identical post-join cutoff",
        tags=("streaming", "join", "outer"),
    )
)


from ..streaming.joins import left_semi_join_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_semi_join_matched",
        left_semi_join_streaming,
        """
WITH errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events
  WHERE event_type = 'error'
),
clicks AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'
),
matched AS (
  SELECT e.user_id, e.error_id
  FROM errors e
  WHERE EXISTS (
    SELECT 1 FROM clicks c
    WHERE c.user_id = e.user_id
      AND c.ts >= e.ts - INTERVAL 300 SECOND
      AND c.ts <= e.ts - INTERVAL 1 SECOND
  )
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_emitted,
       CAST(count(DISTINCT error_id) AS BIGINT) AS n_matched_errors
FROM matched GROUP BY user_id ORDER BY user_id
""",
        doc="stream-stream LEFT SEMI join (the streaming EXISTS): "
        "errors with at least one click 1..300 s before them, emitted "
        "once on first match — no sealing cutoff needed for emitted "
        "rows under availableNow; completes the streaming join matrix "
        "(inner / left outer / full outer / semi / stream-static)",
        tags=("streaming", "join", "semi"),
    )
)


from ..streaming.backfill import rate_limited_backfill  # noqa: E402

register(
    QuerySpec(
        "stream_rate_limited_backfill",
        rate_limited_backfill,
        """
SELECT CAST(4 AS BIGINT) AS n_batches,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS batches_bounded
FROM events
""",
        doc="rate-limited streaming backfill: a 4-file backlog drained "
        "at maxFilesPerTrigger=1 under availableNow — exactly one "
        "non-empty micro-batch per file, batch-count sum equals the "
        "table count (nothing dropped or duplicated), every batch "
        "strictly smaller than the backlog; the pacing lever that "
        "bounds state/shuffle/sink size during historical catch-up",
        tags=("streaming", "backfill", "rate-limit"),
    )
)


def _py_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events STREAM written through the custom Python STREAMING
    sink (per-task staged files, per-batch atomic manifest publish),
    then re-read manifest-first and aggregated — proving the Python
    streaming writer is lossless AND transactional: only
    manifest-listed files count, so a dropped staging file or an
    uncommitted batch would change the hash. Completes the Python
    DataSource matrix: batch reader (paged_api), streaming reader
    (stream_custom_source_ingest), batch writer (py_sink), and now the
    streaming writer."""
    import glob
    import json as _json
    import os
    import shutil

    from ..catalog import event_stream
    from ..scratch import private_dir
    from ..sources.py_sink import STREAM_SINK_NAME, make_jsonl_stream_sink
    from ..streaming.daily import _run_to_completion

    spark.dataSource.register(make_jsonl_stream_sink())

    # fresh drain per run into a per-process dir: the round-trip
    # compares against the full fixture, so a warm checkpoint (no new
    # input -> no batches) would leave a stale output dir from an
    # earlier code version
    root = private_dir("pystreamsink")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    stream = event_stream(spark, sf_dir)
    try:
        _run_to_completion(
            spark,
            stream.writeStream.format(STREAM_SINK_NAME)
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    committed: list[str] = []
    for mf in sorted(glob.glob(os.path.join(out, "_BATCH*_MANIFEST"))):
        with open(mf) as f:
            committed += [
                os.path.join(out, name) for name in _json.load(f)["files"]
            ]
    read_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = (
        spark.read.schema(read_schema)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .option("mode", "FAILFAST")
        .json(committed)
    )
    from .source_ops import _roundtrip_agg

    return _roundtrip_agg(src)


from .source_ops import _AGG_ORACLE  # noqa: E402

register(
    QuerySpec(
        "stream_py_sink_roundtrip",
        _py_stream_sink_roundtrip,
        _AGG_ORACLE,
        doc="custom Python STREAMING sink (Spark 4 DataSourceStreamWriter): "
        "per-task staged files, per-batch atomic manifest commit, "
        "manifest-first re-read hash-equal to the parquet oracle — "
        "completes the Python DataSource matrix (batch/stream x "
        "reader/writer)",
        tags=("streaming", "sink", "python-datasource"),
    )
)


from ..streaming.joins import right_outer_join_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_right_outer_sealed",
        right_outer_join_streaming,
        """
WITH mx AS (
  SELECT least(max(ts) FILTER (event_type = 'error'),
               max(ts) FILTER (event_type = 'click')) AS m
  FROM events
),
clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events
  WHERE event_type = 'click'
    AND ts <= (SELECT m FROM mx) - INTERVAL 5400 SECOND
),
errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events
  WHERE event_type = 'error'
),
rj AS (
  SELECT c.user_id, c.click_id, e.error_id
  FROM clicks c LEFT JOIN errors e
    ON e.user_id = c.user_id
   AND c.ts >= e.ts - INTERVAL 300 SECOND
   AND c.ts <= e.ts - INTERVAL 1 SECOND
)
SELECT user_id,
       CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks_sealed,
       CAST(sum(CASE WHEN error_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched_pairs,
       CAST(count(DISTINCT CASE WHEN error_id IS NULL THEN click_id END)
            AS BIGINT) AS n_unmatched_clicks
FROM rj GROUP BY user_id ORDER BY user_id
""",
        doc="stream-stream RIGHT OUTER join, the mirror of the left "
        "cell: unmatched clicks null-emit once the error watermark "
        "passes c_ts + 300 s; sealed-region comparison with the batch "
        "right join (cutoff on the preserved click side) — the join "
        "matrix now covers inner / left / right / full outer / semi / "
        "stream-static",
        tags=("streaming", "join", "outer"),
    )
)


def _occ_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming micro-batches committing to a VERSIONED table under
    optimistic concurrency — the lakehouse sink discipline end-to-end:
    each non-empty micro-batch (paced to one file by the backfill
    stager) merges its per-type aggregate into the previous snapshot
    state and publishes the result as the next version via
    ``write_snapshot_occ`` (its base version declared, so a concurrent
    writer would conflict loudly, never last-wins). The final state is
    read back THROUGH the manifest and must equal the batch aggregate
    over the whole table — incremental maintenance, streaming edition —
    with ``n_versions`` proving one transactional commit per batch.

    All merge arithmetic is exact (long counts, DECIMAL(18,2) value
    sums), so accumulation across any batch split matches the one-shot
    aggregate bit-for-bit; doubles appear only in the final output
    cast."""
    import shutil as _shutil

    from ..catalog import event_stream
    from ..operators import snapshots
    from ..scratch import private_dir, staged
    from ..streaming.backfill import multifile_writer
    from ..streaming.daily import _run_to_completion

    # the backfill's 4-file backlog
    stage = staged("backfill", sf_dir, multifile_writer(spark, sf_dir))
    root = private_dir("occ_rollup")
    table_dir = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")

    stream = event_stream(spark, sf_dir, stage, maxFilesPerTrigger="1")

    def commit_batch(bdf, batch_id: int) -> None:
        agg = bdf.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("value_sum"),
        )
        if not agg.take(1):
            return
        versions = snapshots.list_versions(table_dir)
        base_v = versions[-1] if versions else None
        if base_v is None:
            merged = agg
        else:
            base = snapshots.read_snapshot(spark, table_dir, base_v)
            merged = (
                base.unionByName(agg)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").cast("long").alias("n_events"),
                    F.sum("value_sum")
                    .cast("decimal(18,2)")
                    .alias("value_sum"),
                )
            )
        snapshots.write_snapshot_occ(merged, table_dir, base_v)

    try:
        _run_to_completion(
            spark,
            stream.writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True),
        )
        n_versions = len(snapshots.list_versions(table_dir))
        final = snapshots.read_snapshot(spark, table_dir)
        return (
            final.select(
                "event_type",
                "n_events",
                F.col("value_sum").cast("double").alias("total_value"),
                F.lit(n_versions).cast("long").alias("n_versions"),
            )
            .orderBy("event_type")
            .localCheckpoint()  # detach from the table dir before cleanup
        )
    finally:
        _shutil.rmtree(ckpt, ignore_errors=True)


register(
    QuerySpec(
        "stream_occ_snapshot_rollup",
        _occ_stream_rollup,
        """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(4 AS BIGINT) AS n_versions
FROM events
GROUP BY event_type ORDER BY event_type
""",
        doc="streaming micro-batches committing under optimistic "
        "concurrency to a versioned table: one OCC snapshot per "
        "non-empty batch (4-file paced backlog -> 4 versions), each "
        "merge in exact long/DECIMAL arithmetic, final state read "
        "through the manifest equal to the one-shot batch aggregate — "
        "the lakehouse sink discipline end-to-end",
        tags=("streaming", "sink", "occ", "snapshot"),
    )
)


def _chained_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained streaming stages — the multi-hop topology real
    streaming platforms run (bronze -> silver), with the custom Python
    streaming sink as the hand-off: stage 1 is a map-only streaming ETL
    (filter clicks, project) landing jsonl through the per-batch
    manifest-committing sink; stage 2 is an INDEPENDENT streaming query
    tailing that directory as a file stream and aggregating a daily
    rollup in complete mode. The hop is exactly-once end-to-end: stage
    1 publishes atomic per-batch manifests, stage 2's file-source
    checkpoint tracks each landed file exactly once.

    Scale: each stage is an ordinary Structured Streaming query (map
    stage has no state at all; rollup state is |days x 1| rows); the
    hand-off directory is the bronze table a 100 TB deployment would
    place on object storage."""
    import hashlib as _hashlib
    import os
    import shutil

    from ..catalog import event_stream
    from ..scratch import private_dir
    from ..sources.py_sink import STREAM_SINK_NAME, make_jsonl_stream_sink
    from ..streaming.daily import _drain_memory_sink, _run_to_completion

    spark.dataSource.register(make_jsonl_stream_sink())
    tag = _hashlib.md5(f"chain:{sf_dir}".encode()).hexdigest()[:8]
    root = private_dir("chain")
    bronze = os.path.join(root, "bronze")
    ck1 = os.path.join(root, "ckpt")

    # stage 1: map-only ETL -> custom Python streaming sink (bronze)
    src = event_stream(spark, sf_dir)
    stage1 = src.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    try:
        _run_to_completion(
            spark,
            stage1.writeStream.format(STREAM_SINK_NAME)
            .option("path", bronze)
            .option("checkpointLocation", ck1)
            .trigger(availableNow=True),
        )

        # stage 2: tail the bronze directory as a file stream -> rollup
        name = f"chain_rollup_{tag}"
        silver = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, value double"
            )
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            .option("pathGlobFilter", "part-*.jsonl")
            .json(bronze)
        )
        agg = silver.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        _run_to_completion(
            spark,
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True),
        )
        return _drain_memory_sink(
            spark, name, spark.table(name).orderBy("day")
        )
    finally:
        shutil.rmtree(ck1, ignore_errors=True)


register(
    QuerySpec(
        "stream_chained_pipeline",
        _chained_pipeline,
        """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events WHERE event_type = 'click'
GROUP BY 1 ORDER BY 1
""",
        doc="two chained streaming stages (bronze -> silver): map-only "
        "click ETL through the manifest-committing Python streaming "
        "sink, then an independent file-stream query tails the landed "
        "jsonl into a complete-mode daily rollup — exactly-once "
        "multi-hop hand-off, oracle-equal to the one-shot batch rollup",
        tags=("streaming", "sink", "python-datasource", "pipeline"),
    )
)


from ..streaming.daily import hopping_window_streaming  # noqa: E402

register(
    QuerySpec(
        "stream_hopping_window",
        hopping_window_streaming,
        """
WITH mx AS (SELECT max(ts) AS max_ts FROM events),
hops AS (
  SELECT date_trunc('day', ts) - INTERVAL (o) DAY AS w_start,
         event_type
  FROM events, unnest([0, 1]) t(o)
),
agg AS (
  SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM hops GROUP BY w_start, event_type
)
SELECT strftime(a.w_start, '%Y-%m-%d') AS window_start,
       a.event_type, a.n_events
FROM agg a, mx
WHERE a.w_start + INTERVAL 2 DAY <= mx.max_ts - INTERVAL 1 DAY
ORDER BY window_start, event_type
""",
        doc="Streaming HOPPING windows (2-day window, 1-day hop, 1-day "
        "watermark, APPEND): each event expands into 2 windows "
        "engine-side; only watermark-sealed windows emit — completes "
        "the streaming window-shape trio (tumbling / session / "
        "hopping), oracle = batch hop expansion with the seal cutoff",
        tags=("streaming", "hopping-window", "watermark"),
    )
)


from ..streaming.latedrop import LATE_BOUND, late_drop_audit  # noqa: E402

register(
    QuerySpec(
        "stream_late_drop_audit",
        late_drop_audit,
        f"""
WITH ontime AS (
  SELECT ts FROM events WHERE ts >= TIMESTAMP '{LATE_BOUND} 00:00:00'
),
wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM ontime),
sealed AS (
  SELECT date_trunc('day', ts) AS d, count(*) AS n
  FROM ontime
  WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
  GROUP BY 1
)
SELECT CAST((SELECT count(*) FROM sealed) AS BIGINT) AS n_sealed_days,
       CAST((SELECT sum(n) FROM sealed) AS BIGINT) AS n_events_emitted,
       (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE ts < TIMESTAMP '{LATE_BOUND} 00:00:00') AS n_late_batch_rows,
       TRUE AS drop_telemetry_nonzero
""",
        doc="watermark drop ACCOUNTING: ordered (bulk, mid, late) "
        "backlog at maxFilesPerTrigger=1 — by the third batch the "
        "operative watermark has propagated past every late row; the "
        "sink then holds EXACTLY the on-time sealed windows (any "
        "leaked late row would emit its long-sealed window and grow "
        "n_sealed_days), the late batch's numInputRows equals the "
        "late file, and numRowsDroppedByWatermark is a nonzero "
        "tripwire (its unit is post-partial-agg state-input rows — an "
        "engine grain no oracle should pin); the books an operator "
        "reconciles when late data silently disappears at scale",
        tags=("streaming", "watermark", "observability"),
    )
)
