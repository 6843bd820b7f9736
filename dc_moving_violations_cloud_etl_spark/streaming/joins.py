"""Stream-stream interval join — the two-moving-inputs join Structured
Streaming is specifically built for: two watermarked event streams
joined on key + a bounded time-range condition. The watermark + range
bound is what lets the engine EXPIRE join state (without them a
stream-stream join buffers both sides forever — the 100 TB failure
mode); with ``availableNow`` an inner join emits exactly the batch
range-join's pairs, so the result is deterministic and oracle-checked
against the plain inequality join on microsecond-exact timestamps.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import base, event_stream
from .daily import _drain_memory_sink, _run_to_completion

LOWER_S = 1
UPPER_S = 300


def interval_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """errors stream ⋈ clicks stream (same user, click 1..300 s before
    the error, exact timestamps) → per-user pair counts.

    Both sides carry a 1-hour watermark; the range condition bounds the
    buffered state to ~5 minutes of the other stream per key. The
    per-user aggregate runs as a batch query over the emitted pairs
    (chaining an aggregate behind a stream-stream join is a second
    stateful operator — separable here, and the join is the capability
    under test)."""
    tag = hashlib.md5(f"ssjoin:{sf_dir}".encode()).hexdigest()[:8]
    name = f"interval_join_{tag}"

    errors = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )

    pairs = errors.join(
        clicks,
        F.expr(
            f"""
            e_user = c_user AND
            c_ts >= e_ts - INTERVAL {UPPER_S} SECONDS AND
            c_ts <= e_ts - INTERVAL {LOWER_S} SECONDS
            """
        ),
        "inner",
    )

    _run_to_completion(
        spark,
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .groupBy(F.col("e_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("error_id").cast("long").alias("n_errors_matched"),
        )
        .orderBy("user_id"),
    )


def static_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events STREAM joined to the
    static ``customer`` dimension (user_id = c_custkey) — the standard
    streaming-enrichment shape. The static side is a plain batch
    DataFrame re-planned per micro-batch and broadcast (no streaming
    state at all, unlike stream-stream); per-segment counts aggregate
    in complete mode. Deterministic under availableNow, so the oracle
    is the identical batch join."""
    tag = hashlib.md5(f"stjoin:{sf_dir}".encode()).hexdigest()[:8]
    name = f"static_join_{tag}"

    ev = event_stream(spark, sf_dir)
    dim = base(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    joined = ev.join(
        F.broadcast(dim), ev["user_id"] == dim["c_custkey"], "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
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
        spark, name, spark.table(name).orderBy("c_mktsegment")
    )


SEAL_S = 5400  # seal horizon past the watermark base: 1 h wm + 300 s range + slack


def left_outer_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the outer cell of the streaming
    join matrix: every error pairs with preceding clicks (same user,
    1..300 s before) and errors with NO such click are null-emitted once
    the watermark seals their range.

    Outer-join emission is watermark-DRIVEN: a left row's null result
    only fires after the click watermark passes ``e_ts - 1 s`` (the
    newest click that could still match), so rows near the stream head
    stay pending in the state store — under ``availableNow`` the final
    no-data micro-batch advances the watermark to ``max(ts) - 1 h`` and
    flushes everything older. The query therefore compares only the
    SEALED region: the drained sink is filtered to
    ``e_ts <= min(max error ts, max click ts) - 1.5 h`` (watermark +
    range + slack past the watermark BASE) — every error there has its
    final outcome — and the DuckDB twin applies the same cutoff to a
    plain batch left join. Two measured traps shape the cutoff: the
    global watermark is the MIN across both sides' watermark nodes, so
    it trails the LAGGING side's max event time, not the stream's
    (sf0.001: the last error precedes the last click by 3 h — a
    global-max-based cutoff left one sealed error unemitted); and the
    filter must run AFTER the sink — a pre-filter on the error stream
    lowers that side's node watermark and withholds the last hour of
    sealed rows (measured: 5 rows short at sf0.01).

    At 100 TB the posture is the same as the inner interval join — the
    watermark + range bound expires both sides' state — plus the outer
    guarantee that unmatched facts surface instead of silently dropping
    (the reconciliation shape: "which errors had no click precursor").
    """
    batch = base(spark, sf_dir, "events")
    wm_base = batch.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        )
    ).collect()[0][0]
    cutoff = F.lit(wm_base) - F.expr(f"INTERVAL {SEAL_S} SECONDS")

    tag = hashlib.md5(f"ssloj:{sf_dir}".encode()).hexdigest()[:8]
    name = f"outer_join_{tag}"

    errors = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )

    pairs = errors.join(
        clicks,
        F.expr(
            f"""
            e_user = c_user AND
            c_ts >= e_ts - INTERVAL {UPPER_S} SECONDS AND
            c_ts <= e_ts - INTERVAL {LOWER_S} SECONDS
            """
        ),
        "left_outer",
    )

    _run_to_completion(
        spark,
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .where(F.col("e_ts") <= cutoff)
        .groupBy(F.col("e_user").alias("user_id"))
        .agg(
            F.countDistinct("error_id").cast("long").alias("n_errors_sealed"),
            F.sum(
                F.when(F.col("click_id").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_matched_pairs"),
            F.countDistinct(
                F.when(F.col("click_id").isNull(), F.col("error_id"))
            ).cast("long").alias("n_unmatched_errors"),
        )
        .orderBy("user_id"),
    )


def full_outer_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — the last cell of the streaming
    join matrix: matched (error, click) pairs within the 1..300 s
    range, PLUS errors with no preceding click, PLUS clicks that
    preceded no error — both null sides watermark-driven.

    Sealing is two-sided (the extension over
    ``left_outer_join_streaming``): an error's null result is final
    once the click watermark passes ``e_ts - 1 s``; a click's null
    result is final once the ERROR watermark passes ``c_ts + 300 s``
    (the newest error it could still match). One post-sink cutoff
    ``coalesce(e_ts, c_ts) <= wm_base - SEAL_S`` covers both: SEAL_S's
    1800 s slack dominates the 300 s asymmetry of the click window, so
    every surviving row — matched, error-null, click-null — is sealed.
    The same two traps as the left-outer apply (global watermark trails
    the LAGGING side; the filter must run after the sink, or it lowers
    a node watermark and withholds sealed rows). The DuckDB twin is the
    batch FULL JOIN over the complete streams with the identical
    post-join cutoff — pre-filtering either side would fabricate
    unmatched rows whose true match lies past the cutoff.

    At 100 TB: same state expiry as the inner/left cells, plus the
    two-sided reconciliation guarantee ("which errors had no click
    precursor AND which clicks led to no error") that a lossless
    stream-stream audit needs.
    """
    batch = base(spark, sf_dir, "events")
    wm_base = batch.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        )
    ).collect()[0][0]
    cutoff = F.lit(wm_base) - F.expr(f"INTERVAL {SEAL_S} SECONDS")

    tag = hashlib.md5(f"ssfoj:{sf_dir}".encode()).hexdigest()[:8]
    name = f"full_outer_join_{tag}"

    errors = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )

    pairs = errors.join(
        clicks,
        F.expr(
            f"""
            e_user = c_user AND
            c_ts >= e_ts - INTERVAL {UPPER_S} SECONDS AND
            c_ts <= e_ts - INTERVAL {LOWER_S} SECONDS
            """
        ),
        "full_outer",
    )

    _run_to_completion(
        spark,
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .where(F.coalesce(F.col("e_ts"), F.col("c_ts")) <= cutoff)
        .groupBy(
            F.coalesce(F.col("e_user"), F.col("c_user")).alias("user_id")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("error_id").isNotNull()
                    & F.col("click_id").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_matched_pairs"),
            F.countDistinct(
                F.when(F.col("click_id").isNull(), F.col("error_id"))
            ).cast("long").alias("n_unmatched_errors"),
            F.countDistinct(
                F.when(F.col("error_id").isNull(), F.col("click_id"))
            ).cast("long").alias("n_unmatched_clicks"),
        )
        .orderBy("user_id"),
    )


def left_semi_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join — the existence cell of the
    streaming join matrix: errors that had at least one click in the
    1..300 s window before them, each emitted ONCE (no click columns, no
    pair multiplication — the streaming EXISTS).

    Unlike the outer cells, the semi join needs NO sealing cutoff for
    its emitted rows: a row emits exactly when its first match arrives,
    and under ``availableNow`` every match is seen, so the emitted set
    equals the batch semi join over the full streams. (Only the
    NON-emission of unmatched rows is watermark-governed, and those rows
    produce no output either way.) State expiry follows the same
    watermark + range bound as the inner cell.

    At 100 TB the semi cell is the cheap one: state stores only the
    not-yet-matched left rows and drops each on first match instead of
    buffering every pair.
    """
    tag = hashlib.md5(f"sssemi:{sf_dir}".encode()).hexdigest()[:8]
    name = f"semi_join_{tag}"

    errors = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )

    matched = errors.join(
        clicks,
        F.expr(
            f"""
            e_user = c_user AND
            c_ts >= e_ts - INTERVAL {UPPER_S} SECONDS AND
            c_ts <= e_ts - INTERVAL {LOWER_S} SECONDS
            """
        ),
        "left_semi",
    )

    _run_to_completion(
        spark,
        matched.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .groupBy(F.col("e_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_emitted"),
            F.countDistinct("error_id").cast("long").alias(
                "n_matched_errors"
            ),
        )
        .orderBy("user_id"),
    )


def right_outer_join_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER join — the mirror cell of
    ``left_outer_join_streaming``: every matched (error, click) pair,
    PLUS clicks that preceded no error, null-emitted once the ERROR
    watermark passes ``c_ts + 300 s`` (the newest error the click could
    still match). The sealed-region comparison filters the drained sink
    to ``c_ts <= wm_base - SEAL_S`` — the same two traps as the left
    cell (global watermark trails the LAGGING side; the filter must run
    AFTER the sink) apply symmetrically, and the DuckDB twin
    pre-filters CLICKS (the preserved side) by the identical cutoff.
    """
    batch = base(spark, sf_dir, "events")
    wm_base = batch.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
        )
    ).collect()[0][0]
    cutoff = F.lit(wm_base) - F.expr(f"INTERVAL {SEAL_S} SECONDS")

    tag = hashlib.md5(f"ssroj:{sf_dir}".encode()).hexdigest()[:8]
    name = f"right_outer_join_{tag}"

    errors = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("error_id"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    clicks = (
        event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )

    pairs = errors.join(
        clicks,
        F.expr(
            f"""
            e_user = c_user AND
            c_ts >= e_ts - INTERVAL {UPPER_S} SECONDS AND
            c_ts <= e_ts - INTERVAL {LOWER_S} SECONDS
            """
        ),
        "right_outer",
    )

    _run_to_completion(
        spark,
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True),
    )

    return _drain_memory_sink(
        spark,
        name,
        spark.table(name)
        .where(F.col("c_ts") <= cutoff)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.countDistinct("click_id").cast("long").alias(
                "n_clicks_sealed"
            ),
            F.sum(
                F.when(F.col("error_id").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_matched_pairs"),
            F.countDistinct(
                F.when(F.col("error_id").isNull(), F.col("click_id"))
            ).cast("long").alias("n_unmatched_clicks"),
        )
        .orderBy("user_id"),
    )
