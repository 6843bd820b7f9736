"""Executable entry points — the engine as an APPLICATION, mirroring how
the reference is actually run (SURVEY.md §3):

| reference invocation                         | engine command        |
|----------------------------------------------|-----------------------|
| ``python violation_etl_history.py`` (+weather)| ``history-load``      |
| ``violation_etl_daily.lambda_handler``        | ``daily-load``        |
| ``mysql < sql/analysis_queries.sql``          | ``analyze``           |
| DEPLOYMENT.md:229-242 verification queries    | ``verify``            |
| —                                            | ``query`` / ``list``  |

Usage::

    python -m dc_moving_violations_cloud_etl_spark history-load \
        --sf-dir /root/testdata/sf0.01 --warehouse /tmp/dcmv_warehouse
    python -m dc_moving_violations_cloud_etl_spark daily-load \
        --sf-dir /root/testdata/sf0.01 --warehouse /tmp/dcmv_warehouse
    python -m dc_moving_violations_cloud_etl_spark analyze \
        --sf-dir /root/testdata/sf0.01
    python -m dc_moving_violations_cloud_etl_spark query qa_monthly_agency_tickets

The warehouse is partitioned parquet (``violations/`` by month — the
engine analog of the reference's month→layer routing — plus
``weather_daily/``). ``daily-load`` is append-only: it writes just the
rows whose PK is absent, one new file per touched month, and never
rewrites existing files, so it is replay-safe exactly like the
reference's ``INSERT IGNORE`` idempotency contract
(DEPLOYMENT.md:244-250). Files accumulate at one per touched month per
day; ``history-load`` rewrites the table and is the compaction step.
Like the reference's primary-key index probe, a day's cost follows its
batch, not the table: the insert-if-absent anti-join reads only the
months the batch can touch, the append counts the rows it writes, and a
warm day runs 7 Spark jobs. A missing table is a cold start; a table
that exists but cannot be read is an error, never an empty table.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import sys

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark(app_name="dc-moving-violations-spark-cli")


def _show(df: DataFrame, n: int = 25) -> None:
    df.show(n, truncate=False)


def cmd_history_load(args) -> int:
    """Full historical load: build both tables from the source fixtures,
    PK-dedupe, write the partitioned warehouse (reference
    etl/full_load/*, one-time)."""
    from . import catalog
    from .operators.sinks import dedupe_by_key, write_partitioned

    spark = _spark()
    v = dedupe_by_key(
        catalog.violations(spark, args.sf_dir), ["violation_id"]
    )
    write_partitioned(v, f"{args.warehouse}/violations", "month")
    w = dedupe_by_key(
        catalog.weather_daily(spark, args.sf_dir), ["weather_date"]
    )
    w.coalesce(1).write.mode("overwrite").parquet(
        f"{args.warehouse}/weather_daily"
    )
    nv = spark.read.parquet(f"{args.warehouse}/violations").count()
    nw = spark.read.parquet(f"{args.warehouse}/weather_daily").count()
    print(f"history-load complete: violations={nv} weather_daily={nw}")
    print(f"warehouse: {args.warehouse}")
    return 0


def _read_table(spark: SparkSession, path: str, schema) -> DataFrame | None:
    """A warehouse table read with its known schema, so the read runs no
    schema-inference job; None when the table does not exist yet (the
    cold start). Any other read error raises: an unreadable table that
    does exist, treated as empty, would re-append every source row."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def cmd_daily_load(args) -> int:
    """Incremental load: watermark resume → bounded source scan →
    rows absent from the table → append them, one file per touched
    month (reference etl/daily_load/violation_etl_daily.py
    lambda_handler's INSERT IGNORE). Existing files are never rewritten.
    Replay-safe: re-running inserts nothing.

    A warm day runs 7 Spark jobs: both tables are read with their known
    schemas, the watermark and the row count come from one aggregate,
    the anti-join reads only the table's months the batch can touch, the
    append is the batch's only action and counts its rows as it writes
    them, and the weather check is one join on one partition."""
    from . import catalog
    from .operators.incremental import (
        incremental_range,
        incremental_rows,
        table_watermark,
    )
    from .operators.sinks import (
        dedupe_by_key,
        rows_to_insert,
        upsert_last_writer_wins,
        write_partitioned,
    )

    spark = _spark()
    source = catalog.violations(spark, args.sf_dir)
    today = (
        dt.date.fromisoformat(args.as_of)
        if args.as_of
        else (source.agg(F.max("violation_date")).collect()[0][0]
              + dt.timedelta(days=1))
    )
    existing = _read_table(spark, f"{args.warehouse}/violations", source.schema)
    if existing is None:
        existing, wm_before, n_before = source.limit(0), None, 0
    else:
        wm_before, n_before = table_watermark(existing, "violation_date")
    cold_start = dt.date(1900, 1, 1)
    rng = incremental_range(wm_before, cold_start, today)
    inserted = 0
    if rng is not None:
        # a violation_id embeds its month ('{yyyy-MM}_…') and month is
        # the partition column, so a batch key can only collide inside
        # the batch's own months: the anti-join reads just those
        # directories (a planning-time partition prune)
        lo, hi = (d.strftime("%Y-%m") for d in rng)
        batch = incremental_rows(
            existing.where(F.col("month").between(lo, hi)),
            source,
            rng,
            date_col="violation_date",
            key_cols=["violation_id"],
        )
        # the append is the batch's only action and counts its rows as
        # it writes them: one task (→ one file) per touched month. The
        # observation sits above the exchange, in the write's own stage:
        # there an empty batch reads n=0, while below the exchange
        # reading it raises an AssertionError
        seen = Observation()
        write_partitioned(
            batch.repartition("month").observe(
                seen, F.count(F.lit(1)).alias("n")
            ),
            f"{args.warehouse}/violations",
            "month",
            mode="append",
        )
        inserted = seen.get["n"]

    # weather twin (reference weather_etl_daily.lambda_handler):
    # last-writer-wins upsert keyed on weather_date, rewritten only when
    # some source row is not already present exactly (new date or
    # changed values): the rows an insert-if-absent keyed on every
    # column would add. Its anti-join is null-safe, so NULL cells
    # compare equal as in exceptAll, and w_src is key-unique, so the
    # count equals exceptAll's. Both sides sit on one partition, so the
    # check runs in one job with no exchange.
    w_src = dedupe_by_key(
        catalog.weather_daily(spark, args.sf_dir), ["weather_date"]
    )
    w_path = f"{args.warehouse}/weather_daily"
    w_existing = _read_table(spark, w_path, w_src.schema)
    if w_existing is None:
        w_existing = w_src.limit(0)
    w_changed = rows_to_insert(
        catalog.dimension_sized(w_existing).hint("shuffle_hash"),
        w_src,
        w_src.columns,
    ).count()
    if w_changed:
        # the merge reads the current table, and Spark rejects
        # overwriting a path that is also an input: write the new
        # version beside it once, then swap it in. A run that dies
        # between the two steps leaves no table, which the next run
        # takes for a cold start and rewrites from the source.
        upsert_last_writer_wins(
            w_existing, w_src, ["weather_date"]
        ).coalesce(1).write.mode("overwrite").parquet(f"{w_path}_next")
        shutil.rmtree(w_path, ignore_errors=True)
        os.replace(f"{w_path}_next", w_path)

    print(
        f"daily-load complete: watermark_before={wm_before} "
        f"as_of={today} inserted={inserted} total={n_before + inserted} "
        f"weather_upserted={w_changed}"
    )
    return 0


def cmd_stream_ingest(args) -> int:
    """The daily ingest as Structured Streaming over the custom Python
    streaming source (engine-managed offsets; streaming/source.py) —
    the streaming form of ``daily-load``."""
    from .streaming.source import custom_source_ingest_streaming

    spark = _spark()
    _show(custom_source_ingest_streaming(spark, args.sf_dir), args.rows)
    return 0


def cmd_analyze(args) -> int:
    """Run the reference's full analytical surface (Qa–Qh + Q0,
    sql/analysis_queries.sql:5-91 + README.md:45-51)."""
    from .queries import QUERIES, get_queries

    get_queries()
    spark = _spark()
    names = [
        "qa_monthly_agency_tickets", "qb_total_tickets_since",
        "qc_avg_tickets_per_weekday", "qd_rainy_day_tickets",
        "qe_monthly_precipitation", "qf_monthly_speeding_fines",
        "qg_avg_tickets_per_hour", "qh_accidents_rain_vs_dry",
        "q0_flagship_rainy_count",
    ]
    for name in names:
        print(f"\n=== {name}: {QUERIES[name].doc}")
        _show(QUERIES[name].build(spark, args.sf_dir), args.rows)
    return 0


def cmd_verify(args) -> int:
    """Post-load verification (reference DEPLOYMENT.md:229-242)."""
    from .queries import get_queries

    qs = get_queries()
    spark = _spark()
    for name in ("v1_violations_verification", "v2_weather_verification"):
        print(f"=== {name}")
        _show(qs[name](spark, args.sf_dir))
    return 0


def cmd_query(args) -> int:
    """Run any registered query by name."""
    from .queries import get_queries

    qs = get_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    _show(qs[args.name](_spark(), args.sf_dir), args.rows)
    return 0


def cmd_list(args) -> int:
    """List every registered query with its one-line description."""
    from .queries import QUERIES, get_queries

    get_queries()
    for name, spec in QUERIES.items():
        print(f"{name:40s} {spec.doc.splitlines()[0] if spec.doc else ''}")
    print(f"\n{len(QUERIES)} queries registered")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="dc_moving_violations_cloud_etl_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp, warehouse=False):
        sp.add_argument(
            "--sf-dir", default="/root/testdata/sf0.01",
            help="fixture directory (default sf0.01)",
        )
        sp.add_argument("--rows", type=int, default=25)
        if warehouse:
            sp.add_argument(
                "--warehouse", default="/tmp/dcmv_warehouse",
                help="partitioned-parquet warehouse root",
            )

    sp = sub.add_parser("history-load", help=cmd_history_load.__doc__)
    common(sp, warehouse=True)
    sp.set_defaults(fn=cmd_history_load)

    sp = sub.add_parser("daily-load", help=cmd_daily_load.__doc__)
    common(sp, warehouse=True)
    sp.add_argument(
        "--as-of", default=None,
        help="treat this ISO date as 'today' (default: source max + 1)",
    )
    sp.set_defaults(fn=cmd_daily_load)

    sp = sub.add_parser("stream-ingest", help=cmd_stream_ingest.__doc__)
    common(sp)
    sp.set_defaults(fn=cmd_stream_ingest)

    sp = sub.add_parser("analyze", help=cmd_analyze.__doc__)
    common(sp)
    sp.set_defaults(fn=cmd_analyze)

    sp = sub.add_parser("verify", help=cmd_verify.__doc__)
    common(sp)
    sp.set_defaults(fn=cmd_verify)

    sp = sub.add_parser("query", help=cmd_query.__doc__)
    sp.add_argument("name")
    common(sp)
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("list", help=cmd_list.__doc__)
    sp.set_defaults(fn=cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
