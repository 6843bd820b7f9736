"""High-watermark incremental ingest — the reference's daily Lambda
pattern (SURVEY.md §2.J) as engine operators.

Reference behavior re-expressed:
- J1 watermark read: ``SELECT MAX(violation_date)`` → resume at +1 day
  (reference etl/daily_load/violation_etl_daily.py:120-146)
- J2 completeness delay: ingest only through *yesterday*
  (reference violation_etl_daily.py:139-141)
- J3 cold-start default when the table is empty
  (reference violation_etl_daily.py:129-133)
- J5 idempotent replay via the insert-if-absent sink
  (reference DEPLOYMENT.md:244-250)

Batch-first (matching the reference's daily cadence); the Structured
Streaming variant with ``availableNow`` lives in ``streaming/daily.py``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sinks import rows_to_insert


def table_watermark(
    existing: DataFrame, date_col: str
) -> tuple[dt.date | None, int]:
    """J1 and the table's row count in one aggregate: (max(date_col),
    rows); the watermark is None on an empty table."""
    row = existing.agg(
        F.max(date_col).alias("wm"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return row["wm"], row["n"]


def get_watermark(existing: DataFrame, date_col: str) -> dt.date | None:
    """J1: current high watermark = max(date_col), None on empty table."""
    return table_watermark(existing, date_col)[0]


def incremental_range(
    watermark: dt.date | None,
    cold_start_default: dt.date,
    today: dt.date,
) -> tuple[dt.date, dt.date] | None:
    """J1–J3: [start, end] day range to ingest: (watermark+1 | cold-start
    default) .. yesterday; None when already up to date (the reference's
    ``start > end → no-op``, violation_etl_daily.py:143-144)."""
    start = (
        watermark + dt.timedelta(days=1) if watermark is not None else cold_start_default
    )
    end = today - dt.timedelta(days=1)
    if start > end:
        return None
    return start, end


def incremental_rows(
    existing: DataFrame,
    source: DataFrame,
    rng: tuple[dt.date, dt.date],
    date_col: str,
    key_cols: list[str],
) -> DataFrame:
    """One incremental batch as the rows to append: the source rows of
    the ``incremental_range`` day range ``rng`` (J1–J3) →
    ``rows_to_insert``. The date predicate is pushed down to the source
    scan by Catalyst (the engine analog of the reference's server-side
    ``where=ISSUE_DATE >= ms AND < ms``, violation_etl_daily.py:168).

    Replay-safe: the anti-join against ``existing`` yields no rows for a
    batch that is already loaded.
    """
    start, end = rng
    fresh = source.where(
        (F.col(date_col) >= F.lit(start)) & (F.col(date_col) <= F.lit(end))
    )
    return rows_to_insert(existing, fresh, key_cols)


def incremental_merge(
    existing: DataFrame,
    source: DataFrame,
    date_col: str,
    key_cols: list[str],
    cold_start_default: dt.date,
    today: dt.date,
) -> DataFrame:
    """One incremental batch as the whole merged table: ``existing`` plus
    ``incremental_rows`` from its own watermark. Running the same batch
    twice is a no-op."""
    rng = incremental_range(
        get_watermark(existing, date_col), cold_start_default, today
    )
    if rng is None:
        return existing
    return existing.unionByName(
        incremental_rows(existing, source, rng, date_col, key_cols)
    )
