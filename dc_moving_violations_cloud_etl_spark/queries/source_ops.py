"""Source-format operators (round 3): JSON-lines and CSV sources with
full round-trip fidelity, and parquet schema evolution via mergeSchema.

The reference's only live source is a JSON HTTP API shredded row-at-a-
time in Python (SURVEY.md §2.A, reference
etl/daily_load/violation_etl_daily.py:180-184); these queries exercise
Spark's declarative source layer on the same data instead: schema-first
``spark.read.json`` / ``spark.read.csv`` (JVM-side parsing, no Python in
the loop) and the columnar-evolution path a long-lived 100 TB table
needs when columns are added over time.

Each query stages the ``events`` fixture into the target format ONCE per
fixture generation (``scratch.staged``), then answers an aggregate over the staged source;
the DuckDB oracle computes the identical aggregate from the original
parquet — so a hash match proves the format round-trip is lossless,
including microsecond timestamps (explicit ``timestampFormat``) and
embedded-JSON string quoting in CSV.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..scratch import staged
from .registry import QuerySpec, register

# microsecond-precision timestamps: the default JSON/CSV format writes
# millis and would silently truncate the fixture's microsecond ts
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


_AGG_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events
GROUP BY event_type ORDER BY event_type
"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    """Aggregate exercising every round-tripped column incl. microsecond
    ts extrema — any lossy serialization shows up in the hash."""
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "first_ts"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_ts"
            ),
        )
        .orderBy("event_type")
    )


def _json_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged(
        "json",
        sf_dir,
        lambda out: catalog.base(spark, sf_dir, "events")
        .coalesce(2)
        .write.option("timestampFormat", _TS_FMT)
        .mode("overwrite")
        .json(out),
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = (
        spark.read.schema(schema)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .json(d)
    )
    return _roundtrip_agg(src)


register(
    QuerySpec(
        "json_source_roundtrip_agg",
        _json_source_agg,
        _AGG_ORACLE,
        doc="schema-first JSON-lines source (FAILFAST, explicit "
        "microsecond timestampFormat): per-type aggregate over the "
        "staged JSON equals the parquet oracle — lossless round-trip; "
        "JVM-side JacksonParser, no Python in the parse loop "
        "(reference shreds the same JSON row-at-a-time in Python, "
        "violation_etl_daily.py:180-184)",
        tags=("extension", "source", "json"),
    )
)


def _csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged(
        "csv",
        sf_dir,
        lambda out: catalog.base(spark, sf_dir, "events")
        .coalesce(2)
        .write.option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .mode("overwrite")
        .csv(out),
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .csv(d)
    )
    return _roundtrip_agg(src)


register(
    QuerySpec(
        "csv_source_roundtrip_agg",
        _csv_source_agg,
        _AGG_ORACLE,
        doc="CSV source round-trip incl. quoted embedded-JSON column and "
        "microsecond timestamps (UnivocityParser, FAILFAST); hash-equal "
        "to the parquet oracle",
        tags=("extension", "source", "csv"),
    )
)


def _schema_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage two parquet generations — v1 (even event_ids) WITHOUT the
    ``value`` column, v2 (odd event_ids) with it — and read them as one
    table with ``mergeSchema``: the evolved column is NULL for v1 rows.
    This is the append-only column-add lifecycle of a long-lived table;
    the audit proves reads stay correct across generations."""

    def write(out: str) -> None:
        ev = catalog.base(spark, sf_dir, "events")
        (
            ev.where(F.col("event_id") % 2 == 0)
            .select("event_id", "user_id", "event_type")
            .coalesce(1)
            .write.mode("append")
            .parquet(out)
        )
        (
            ev.where(F.col("event_id") % 2 == 1)
            .select("event_id", "user_id", "event_type", "value")
            .coalesce(1)
            .write.mode("append")
            .parquet(out)
        )

    d = staged("evo", sf_dir, write)
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("value").isNull().cast("long"))
            .cast("long")
            .alias("n_pre_evolution"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("evolved_value_sum"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "parquet_schema_evolution_audit",
        _schema_evolution_audit,
        """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       -- the merged table's NULL set is every v1 row PLUS any v2 row
       -- whose ORIGINAL value was NULL - an even-ids-only filter
       -- undercounts when a v2 source row carries NULL (r11
       -- dirty-fixture alignment)
       CAST(count(*) FILTER (WHERE event_id % 2 = 0 OR value IS NULL)
            AS BIGINT) AS n_pre_evolution,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
              FILTER (WHERE event_id % 2 = 1) AS DOUBLE)
         AS evolved_value_sum
FROM events
-- a NULL event_id row belongs to NEITHER staged generation (both
-- writer predicates are NULL), so it never reaches the merged table
WHERE event_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
        doc="parquet schema evolution via mergeSchema over two staged "
        "file generations (column added in v2); NULL-backfill audit "
        "matches the oracle's even/odd reconstruction",
        tags=("extension", "source", "schema-evolution"),
    )
)


def _paged_api_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through the custom Python DataSource (Spark 4 API): the
    count-then-page planner schedules one task per ~pageSize-row fetch
    (row-group layout coalesced or split) — the reference's sequential
    pagination loop, parallelized by the scheduler. The aggregate
    proves both content fidelity (vs the parquet oracle) and the
    logical page identity (n_pages = distinct event_id // 2000 per
    type, stamped per row inside the fetch)."""
    from ..sources.paged_api import (
        SOURCE_NAME,
        make_paged_events_source,
        paged_fixture_path,
    )

    # runtime-settable; required once a reader implements pushFilters
    # (engine must work in ANY caller-supplied session, so set it here,
    # not only in our own session factory)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(make_paged_events_source())
    src = (
        spark.read.format(SOURCE_NAME)
        .option("path", paged_fixture_path(sf_dir))
        .option("pageSize", "2000")
        .load()
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    return (
        src.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("page_id").cast("long").alias("n_pages"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_ts"
            ),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "paged_api_source_agg",
        _paged_api_source_agg,
        """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id // 2000) AS BIGINT) AS n_pages,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events
GROUP BY event_type ORDER BY event_type
""",
        doc="custom Python DataSource (Spark 4 datasource API) "
        "reproducing the reference's count-then-page ArcGIS scan "
        "(violation_etl_history.py:73-124): footer-stats count probe, "
        "layout-driven page-fetch partitions (row-group spans coalesced "
        "or split to ~pageSize rows), per-row page_id = event_id // "
        "pageSize, Arrow-batched page reads — pages fetched as parallel "
        "tasks, not a sequential Python loop",
        tags=("extension", "source", "python-datasource"),
    )
)


def _paged_api_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same custom source, with an equality predicate ABSORBED by
    ``pushFilters`` — the filter runs inside the per-page fetch (the
    reference's server-side ``where=`` parameter, A2/O1), so non-error
    rows never cross the Python→JVM boundary."""
    from ..sources.paged_api import (
        SOURCE_NAME,
        make_paged_events_source,
        paged_fixture_path,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(make_paged_events_source())
    src = (
        spark.read.format(SOURCE_NAME)
        .option("path", paged_fixture_path(sf_dir))
        .option("pageSize", "2000")
        .load()
        .where(F.col("event_type") == "error")
    )
    return (
        src.groupBy(F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "paged_api_pushdown_agg",
        _paged_api_pushdown,
        """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'error'
GROUP BY event_type ORDER BY event_type
""",
        doc="pushFilters predicate pushdown INTO the custom Python "
        "source: the event_type equality is absorbed by the reader and "
        "evaluated inside the page fetch (the reference's server-side "
        "where= parameter, violation_etl_daily.py:168)",
        tags=("extension", "source", "pushdown"),
    )
)


def _orc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC completes the columnar-format matrix (parquet is the native
    fixture; JSON/CSV are the text paths): schema preserved by the file
    footer — no timestampFormat needed — and the scan supports the same
    predicate pushdown / column pruning as parquet."""
    d = staged(
        "orc",
        sf_dir,
        lambda out: catalog.base(spark, sf_dir, "events")
        .coalesce(2)
        .write.mode("overwrite")
        .orc(out),
    )
    return _roundtrip_agg(spark.read.orc(d))


register(
    QuerySpec(
        "orc_source_roundtrip_agg",
        _orc_source_agg,
        _AGG_ORACLE,
        doc="ORC round-trip: schema-carrying columnar format, same "
        "pushdown/pruning class as parquet; microsecond ts extrema in "
        "the hash prove losslessness",
        tags=("extension", "source", "orc"),
    )
)


# ---------------------------------------------------------------------------
# month-partitioned layout + partition-pruned read (reference A7)
# ---------------------------------------------------------------------------

from ..oracle import with_ref_views  # noqa: E402

_PRUNE_MONTH = "1998-03"


def _partitioned_layout_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's month-layer routing (violation_etl_history.py's
    per-month MapServer layers) as a REAL partitioned table layout:
    the violations fact is written ``partitionBy('month')`` once per
    fixture generation, and the month query reads it back with the
    filter reaching the DIRECTORY level — Catalyst partition pruning
    lists exactly one month folder, the 100 TB answer to 'scan only the
    layer you asked for' (pruning itself is plan-asserted in
    tests/test_partitioning.py; this query puts the layout on the
    driver-checked surface). The staged copy is identity-keyed on BOTH
    source parquets — violations is a lineitem⋈orders build, so a
    regenerated orders alone must re-stage."""
    d = staged(
        "monthpart",
        sf_dir,
        lambda out: catalog.violations(spark, sf_dir)
        .write.partitionBy("month")
        .mode("overwrite")
        .parquet(out),
        files=("lineitem.parquet", "orders.parquet"),
    )
    v = spark.read.parquet(d).where(F.col("month") == _PRUNE_MONTH)
    return (
        v.groupBy("issuing_agency_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tickets"),
            F.sum(F.col("fine_amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("fines_total"),
        )
        .orderBy("issuing_agency_name")
    )


register(
    QuerySpec(
        "partitioned_month_layer_agg",
        _partitioned_layout_agg,
        with_ref_views(
            f"""
SELECT issuing_agency_name,
       CAST(count(*) AS BIGINT) AS n_tickets,
       CAST(sum(CAST(fine_amount AS DECIMAL(18,2))) AS DOUBLE)
         AS fines_total
FROM violations
WHERE month = '{_PRUNE_MONTH}'
GROUP BY issuing_agency_name
ORDER BY issuing_agency_name
"""
        ),
        doc="month-partitioned table layout (reference A7 layer routing): "
        "partitionBy('month') write staged once per fixture, month "
        "filter pruned to one partition directory at the scan",
        tags=("extension", "layout", "partitioning"),
    )
)


def _xml_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 built-in XML source (no external package): events staged
    as ``<event>`` rows, read back schema-first with the microsecond
    timestampFormat, aggregated per type. Null columns are absent
    elements (XML convention) and JSON-in-``props`` survives entity
    escaping — both covered by the hash because the aggregate touches
    every column including ts extrema."""
    d = staged(
        "xml",
        sf_dir,
        lambda out: catalog.base(spark, sf_dir, "events")
        .coalesce(2)
        .write.format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .option("timestampFormat", _TS_FMT)
        .mode("overwrite")
        .save(out),
    )
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = (
        spark.read.format("xml")
        .schema(schema)
        .option("rowTag", "event")
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .load(d)
    )
    return _roundtrip_agg(src)


register(
    QuerySpec(
        "xml_source_roundtrip_agg",
        _xml_source_agg,
        _AGG_ORACLE,
        doc="built-in XML source (Spark 4, StaxXmlParser JVM-side): "
        "schema-first read of staged <event> rows equals the parquet "
        "oracle — completes the text-format matrix (JSON/CSV/ORC/XML)",
        tags=("extension", "source", "xml"),
    )
)


def _py_sink_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER exercised end-to-end: events are
    written through the ``jsonl_tx_sink`` (per-partition staged files →
    driver-side atomic rename commit + manifest — the two-phase-commit
    shape of the reference's one-transaction MySQL load,
    violation_etl_history.py:138-150), then re-read schema-first with
    the built-in JSON reader and aggregated. Hash-equality with the
    parquet oracle proves the sink is lossless AND committed (a
    dropped/partial staging file would change counts)."""
    from ..sources.py_sink import SINK_NAME, make_jsonl_sink

    spark.dataSource.register(make_jsonl_sink())

    def write(out: str) -> None:
        catalog.base(spark, sf_dir, "events").coalesce(2).write.format(
            SINK_NAME
        ).mode("append").save(out)

    d = staged("pysink", sf_dir, write)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = (
        spark.read.schema(schema)
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .json(f"{d}/part-*.jsonl")
    )
    return _roundtrip_agg(src)


register(
    QuerySpec(
        "py_sink_roundtrip_agg",
        _py_sink_roundtrip_agg,
        _AGG_ORACLE,
        doc="custom Python DataSource writer (Spark 4 API): "
        "per-partition staged writes, driver-side atomic rename "
        "commit + manifest, abort cleanup — the sink half of the "
        "custom-connector surface, round-tripped and hash-checked",
        tags=("extension", "source", "sink", "python-datasource"),
    )
)


# ---------------------------------------------------------------------------
# parquet aggregate pushdown: metadata-only COUNT/MIN/MAX
# ---------------------------------------------------------------------------


def _metadata_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT/MIN/MAX answered from parquet FOOTERS, not data pages:
    under ``spark.sql.parquet.aggregatePushdown`` (v2 scan), the
    BatchScan itself outputs ``count(*)/min/max`` from row-group
    statistics — the plan shows ``PushedAggregation`` and the query
    reads zero data pages (tests/test_plans.py asserts the pushed
    plan). At 100 TB this is the difference between a full scan and a
    footer sweep for the watermark/inventory probes the reference runs
    daily (MAX(date), violation_etl_daily.py:120-146).

    Executes inside its conf guard (v2 reads + pushdown enabled, then
    RESTORED — the shared session default stays v1) and returns the
    collected 3-row profile, the ``bloom_pruned_fact_join``
    precedent for conf-scoped execution."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,orc,text",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        rows = []
        for table, key in (
            ("lineitem", "l_orderkey"),
            ("orders", "o_orderkey"),
            ("events", "event_id"),
        ):
            r = (
                catalog.base(spark, sf_dir, table)
                .agg(
                    F.count("*").alias("n"),
                    F.min(key).alias("mn"),
                    F.max(key).alias("mx"),
                )
                .collect()[0]
            )
            rows.append((table, int(r["n"]), int(r["mn"]), int(r["mx"])))
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
    return spark.createDataFrame(
        rows, "table_name string, n_rows long, min_key long, max_key long"
    ).orderBy("table_name")


register(
    QuerySpec(
        "metadata_agg_pushdown",
        _metadata_agg_pushdown,
        """
SELECT 'events' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS min_key,
       CAST(max(event_id) AS BIGINT) AS max_key
FROM events
UNION ALL
SELECT 'lineitem', CAST(count(*) AS BIGINT),
       CAST(min(l_orderkey) AS BIGINT), CAST(max(l_orderkey) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders', CAST(count(*) AS BIGINT),
       CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
FROM orders
ORDER BY table_name
""",
        doc="COUNT/MIN/MAX from parquet footers via aggregate pushdown "
        "(v2 BatchScan outputs the aggregates; PushedAggregation "
        "plan-asserted) — footer sweep instead of full scan for the "
        "reference's daily watermark/inventory probes",
        tags=("extension", "source", "pushdown", "metadata"),
    )
)


# ---------------------------------------------------------------------------
# Z-order clustering / min-max pruning audit (round 5)
# ---------------------------------------------------------------------------

_Z_BITS = 5          # 5 bits per dimension -> 10-bit Morton code
_Z_RG_ROWS = 1000    # simulated parquet row-group size
_Z_MAX = (1 << _Z_BITS) - 1
# predicate workload over (epoch-day % 32, user_id % 32): a day-only
# box, a user-only box, and a both-dims box — the mix that separates
# the layouts (each linear order wins its own dimension and loses the
# other; the Morton curve bounds both)
_Z_PREDICATES: dict[str, tuple[int, int, int, int]] = {
    "day_box": (8, 11, 0, _Z_MAX),
    "user_box": (0, _Z_MAX, 8, 15),
    "both_box": (8, 11, 8, 15),
}


def _zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering audit — the Delta ``OPTIMIZE ZORDER BY``
    trade, measured: lay the events fact out under three sort orders
    (day-major, user-major, Morton-interleaved day x user), cut it into
    fixed-size row groups, and count how many groups' min-max ranges a
    2-D predicate box must touch. Linear orders prune only their
    leading dimension; the Z-order curve bounds BOTH, which at 100 TB
    is the difference between scanning a stripe of the table and a few
    row groups (min-max zone maps come free from parquet footers).

    The row-group assignment uses the DISTRIBUTED global rank
    (operators/ranking.global_rank) per ordering — a real rewrite would
    range-repartition + sortWithinPartitions on the same key, with the
    identical resulting layout; ``test_zorder_real_parquet_footers``
    pins this simulation to actual parquet footer stats."""
    from ..operators.ranking import global_rank

    ev = catalog.base(spark, sf_dir, "events").select(
        "event_id",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            % (1 << _Z_BITS)
        ).cast("long").alias("did"),
        (F.col("user_id") % (1 << _Z_BITS)).cast("long").alias("ub"),
    )
    from ..operators.layout import zorder_key

    # shared Morton operator (operators/layout.py): bit i of column j
    # lands at output bit i*2+j — same interleave the oracle unrolls
    keyed = ev.withColumn(
        "z", zorder_key([F.col("did"), F.col("ub")], bits=_Z_BITS)
    )

    orders = {
        "linear_day": [F.asc("did"), F.asc("ub"), F.asc("event_id")],
        "linear_user": [F.asc("ub"), F.asc("did"), F.asc("event_id")],
        "zorder": [F.asc("z"), F.asc("event_id")],
    }
    # One rank pipeline + group aggregate PER STRATEGY (3 scans total),
    # then the tiny predicate list joins against the unioned group
    # stats — not one lineage rebuild per (strategy, predicate) pair
    # (ADVICE r5: the audit previously ran 9 rank pipelines for a
    # 3-strategy x 3-predicate matrix).
    groups_all = None
    for name, cols in orders.items():
        ranked = global_rank(keyed, *cols, alias="rk")
        groups = (
            ranked.withColumn(
                "rg", ((F.col("rk") - 1) / _Z_RG_ROWS).cast("long")
            )
            .groupBy("rg")
            .agg(
                F.min("did").alias("lo_d"),
                F.max("did").alias("hi_d"),
                F.min("ub").alias("lo_u"),
                F.max("ub").alias("hi_u"),
            )
            .withColumn("strategy", F.lit(name))
        )
        groups_all = (
            groups if groups_all is None else groups_all.unionByName(groups)
        )
    preds = spark.createDataFrame(
        [(n, *box) for n, box in _Z_PREDICATES.items()],
        "predicate string, dlo long, dhi long, ulo long, uhi long",
    )
    out = (
        groups_all.crossJoin(F.broadcast(preds))
        .groupBy("strategy", "predicate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(
                F.when(
                    (F.col("lo_d") <= F.col("dhi"))
                    & (F.col("hi_d") >= F.col("dlo"))
                    & (F.col("lo_u") <= F.col("uhi"))
                    & (F.col("hi_u") >= F.col("ulo")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_groups_scanned"),
        )
    )
    return out.select(
        "strategy",
        "predicate",
        "n_groups",
        "n_groups_scanned",
        F.round(
            F.col("n_groups_scanned").cast("double") / F.col("n_groups"), 6
        ).alias("scan_fraction_r6"),
    ).orderBy("strategy", "predicate")


_Z_PREDS_SQL = ", ".join(
    f"('{n}', {dlo}, {dhi}, {ulo}, {uhi})"
    for n, (dlo, dhi, ulo, uhi) in _Z_PREDICATES.items()
)


register(
    QuerySpec(
        "layout_zorder_pruning_audit",
        _zorder_pruning_audit,
        f"""
WITH keyed AS (
  SELECT event_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              % {1 << _Z_BITS} AS BIGINT) AS did,
         CAST(user_id % {1 << _Z_BITS} AS BIGINT) AS ub
  FROM events
),
zkeyed AS (
  SELECT event_id, did, ub,
         CAST({" + ".join(
             f"((did // {1 << i}) % 2) * {1 << (2 * i)}"
             f" + ((ub // {1 << i}) % 2) * {1 << (2 * i + 1)}"
             for i in range(_Z_BITS)
         )} AS BIGINT) AS z
  FROM keyed
),
assigned AS (
  SELECT 'linear_day' AS strategy,
         (row_number() OVER (ORDER BY did, ub, event_id) - 1)
           // {_Z_RG_ROWS} AS rg, did, ub
  FROM zkeyed
  UNION ALL
  SELECT 'linear_user',
         (row_number() OVER (ORDER BY ub, did, event_id) - 1)
           // {_Z_RG_ROWS}, did, ub
  FROM zkeyed
  UNION ALL
  SELECT 'zorder',
         (row_number() OVER (ORDER BY z, event_id) - 1)
           // {_Z_RG_ROWS}, did, ub
  FROM zkeyed
),
groups AS (
  SELECT strategy, rg,
         min(did) AS lo_d, max(did) AS hi_d,
         min(ub) AS lo_u, max(ub) AS hi_u
  FROM assigned GROUP BY strategy, rg
),
preds(predicate, dlo, dhi, ulo, uhi) AS (
  VALUES {_Z_PREDS_SQL}
)
SELECT g.strategy, p.predicate,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN g.lo_d <= p.dhi AND g.hi_d >= p.dlo
                      AND g.lo_u <= p.uhi AND g.hi_u >= p.ulo
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_scanned,
       round(CAST(sum(CASE WHEN g.lo_d <= p.dhi AND g.hi_d >= p.dlo
                            AND g.lo_u <= p.uhi AND g.hi_u >= p.ulo
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS scan_fraction_r6
FROM groups g CROSS JOIN preds p
GROUP BY g.strategy, p.predicate ORDER BY g.strategy, p.predicate
""",
        doc="Z-order clustering audit (Delta OPTIMIZE ZORDER trade, "
        "measured): row-group min-max pruning under day-major, "
        "user-major, and Morton-interleaved layouts against a 2-D "
        "predicate box - the zone-map scan fractions that decide a "
        "100 TB layout rewrite",
        tags=("extension", "layout", "statistics"),
    )
)


# ---------------------------------------------------------------------------
# binaryFile source: the multimodal raw-asset ingestion path (round 6)
# ---------------------------------------------------------------------------


def _binaryfile_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``binaryFile`` source over a directory of raw
    asset files — the first hop of every multimodal ingestion pipeline
    (images/audio on an object store -> (path, length, content) rows ->
    the mapInPandas decoders in operators/multimodal.py). One task per
    file up to ``maxPartitionBytes``; at 100 TB the known caveat is the
    small-files problem — millions of tiny objects want consolidation
    into archive/sequence containers, which is why the report carries
    the file-count x byte-size shape a compaction planner reads.

    Staging (driver-side, once per fixture generation — file-fixture
    setup, not operator cost): one ``.bin`` per sampled doc whose bytes
    are the UTF-8 of the normalized text, so every output statistic is
    analytically recomputable by the oracle from the ``documents``
    table alone: a hash match proves the source read every byte of
    every file exactly once."""
    def write(out: str) -> None:
        docs = (
            catalog.base(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 10 == 0)
            .select(
                "doc_id",
                F.lower(
                    F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
                ).alias("norm"),
            )
        )
        os.makedirs(out, exist_ok=True)
        for row in docs.toLocalIterator():
            with open(
                os.path.join(out, f"doc_{row['doc_id']}.bin"), "wb"
            ) as f:
                f.write(row["norm"].encode("utf-8"))

    d = staged("binfile", sf_dir, write, files=("documents.parquet",))
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(d)
    )
    return files.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(F.length("content")).cast("long").alias("total_bytes"),
        F.countDistinct(F.md5("content")).cast("long").alias("n_distinct"),
        F.min(F.length("content")).cast("long").alias("min_bytes"),
        F.max(F.length("content")).cast("long").alias("max_bytes"),
    )


register(
    QuerySpec(
        "binaryfile_source_stats",
        _binaryfile_source_stats,
        r"""
WITH d AS (
  SELECT lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id % 10 = 0
)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(octet_length(encode(norm))) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT md5(norm)) AS BIGINT) AS n_distinct,
       CAST(min(octet_length(encode(norm))) AS BIGINT) AS min_bytes,
       CAST(max(octet_length(encode(norm))) AS BIGINT) AS max_bytes
FROM d
""",
        doc="binaryFile source over a staged raw-asset directory: "
        "(path, length, content) rows, every statistic analytically "
        "recomputable from documents — the multimodal ingestion first "
        "hop, with the small-files caveat documented",
        tags=("extension", "source", "multimodal", "binary"),
    )
)
