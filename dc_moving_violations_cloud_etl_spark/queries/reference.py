"""The reference's declared query surface (SURVEY.md §2.L), Spark-first.

Qa–Qh re-express reference sql/analysis_queries.sql:5-91; Q0 the README
flagship join (reference README.md:45-51); V1/V2 the post-deploy
verification aggregates (reference DEPLOYMENT.md:231-241). Date literals
are transposed from the reference's 2024-25 window into the fixture's
1995-2001 window, preserving each predicate's selectivity role.

Plan posture per query (checked via the executed plan, see tests):
- every aggregation over the fact is a partial+final HashAggregate over
  low-cardinality keys — map-side combine means the shuffle carries only
  group rows;
- everything after the first aggregate is date-grain (at most one row per
  day, times a small key), so it goes to one partition
  (``catalog.dimension_sized``): the second aggregate level, the sort and
  the join then plan with no exchange — no range-sampling job, no second
  shuffle. Every query runs in at most two jobs (Qe and V2: one);
- the fact⋈dimension queries aggregate the fact to ``violation_date``
  first, then join the one-partition per-day rows to the one-partition
  weather cache with a ``shuffle_hash`` hint: no broadcast of the weather
  side and no probe of the raw fact rows;
- filters and column pruning reach the parquet scan through the view
  projections (verified: PushedFilters/ReadSchema in the formatted plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..expressions import dayname, exact_decimal_sum, field_order
from ..oracle import with_ref_views
from .registry import QuerySpec, register

# Qb cutoff: mid-range date (reference uses 2024-10-01 in its 2024-09..2025-12
# window, sql/analysis_queries.sql:17-18).
QB_CUTOFF = "1998-01-01"


def _qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = catalog.violations(spark, sf_dir)
    return catalog.dimension_sized(
        v.groupBy("month", "issuing_agency_name").agg(
            F.count(F.lit(1)).alias("tickets_count")
        )
    ).orderBy("month", "issuing_agency_name")


register(
    QuerySpec(
        "qa_monthly_agency_tickets",
        _qa,
        with_ref_views(
            """
SELECT month, issuing_agency_name, count(*) AS tickets_count
FROM violations
GROUP BY month, issuing_agency_name
ORDER BY month, issuing_agency_name
"""
        ),
        doc="Qa: tickets per month x agency (reference analysis_queries.sql:5-12)",
        tags=("reference", "aggregation"),
    )
)


def _qb(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = catalog.violations(spark, sf_dir)
    return v.where(F.col("violation_date") >= F.lit(QB_CUTOFF)).agg(
        F.count(F.lit(1)).alias("total_tickets")
    )


register(
    QuerySpec(
        "qb_total_tickets_since",
        _qb,
        with_ref_views(
            f"""
SELECT count(*) AS total_tickets
FROM violations
WHERE violation_date >= DATE '{QB_CUTOFF}'
"""
        ),
        doc="Qb: total tickets since cutoff (reference analysis_queries.sql:14-18)",
        tags=("reference", "filter", "aggregation"),
    )
)


def _qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = catalog.violations(spark, sf_dir)
    daily = catalog.dimension_sized(
        v.groupBy("violation_date").agg(F.count(F.lit(1)).alias("daily_tickets"))
    )
    return (
        daily.withColumn("weekday", dayname(F.col("violation_date")))
        .groupBy("weekday")
        .agg(F.avg("daily_tickets").alias("avg_tickets"))
        .orderBy(field_order(F.col("weekday")))
    )


register(
    QuerySpec(
        "qc_avg_tickets_per_weekday",
        _qc,
        with_ref_views(
            """
SELECT weekday, avg(daily_tickets) AS avg_tickets
FROM (
  SELECT violation_date, dayname(violation_date) AS weekday,
         count(*) AS daily_tickets
  FROM violations
  GROUP BY violation_date, dayname(violation_date)
) d
GROUP BY weekday
ORDER BY CASE weekday
  WHEN 'Monday' THEN 1 WHEN 'Tuesday' THEN 2 WHEN 'Wednesday' THEN 3
  WHEN 'Thursday' THEN 4 WHEN 'Friday' THEN 5 WHEN 'Saturday' THEN 6
  WHEN 'Sunday' THEN 7 ELSE 0 END
"""
        ),
        doc=(
            "Qc: two-level agg, avg tickets per weekday w/ DAYNAME + FIELD "
            "ordering (reference analysis_queries.sql:20-35)"
        ),
        tags=("reference", "two-level-agg", "dialect-shim"),
    )
)


def _daily_weather_join(
    spark: SparkSession, sf_dir: str, **per_day: F.Column
) -> DataFrame:
    """The fact aggregated to ``violation_date`` with the named
    decomposable aggregates, joined to ``weather_daily`` on the date.

    Both sides are date-grain and on one partition, so the
    ``shuffle_hash`` join plans with no exchange and no broadcast; the
    join probes ~2.5k per-day rows instead of every fact row. Callers
    re-aggregate the per-day columns (sums of counts), which is exact.
    """
    v = catalog.violations(spark, sf_dir)
    w = catalog.weather_daily(spark, sf_dir)
    days = catalog.dimension_sized(
        v.groupBy("violation_date").agg(
            *(agg.alias(name) for name, agg in per_day.items())
        )
    )
    return days.join(
        w.hint("shuffle_hash"), days.violation_date == w.weather_date, "inner"
    )


def _qd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sum over matched days is NULL on an empty match, count(*) is 0
    return (
        _daily_weather_join(spark, sf_dir, tickets=F.count(F.lit(1)))
        .where(F.col("is_rain") == 1)
        .agg(
            F.coalesce(F.sum("tickets"), F.lit(0))
            .cast("long")
            .alias("rainy_day_tickets")
        )
    )


_QD_SQL = with_ref_views(
    """
SELECT count(*) AS rainy_day_tickets
FROM violations v
JOIN weather_daily w ON v.violation_date = w.weather_date
WHERE w.is_rain = 1
"""
)

register(
    QuerySpec(
        "qd_rainy_day_tickets",
        _qd,
        _QD_SQL,
        doc="Qd: tickets on rainy days — per-day fact aggregate ⋈ weather + "
        "flag filter (reference analysis_queries.sql:37-43)",
        tags=("reference", "join"),
    )
)

register(
    QuerySpec(
        "q0_flagship_rainy_count",
        _qd,
        _QD_SQL,
        doc="Q0: README flagship rainy-day count, ≡ Qd (reference README.md:45-51)",
        tags=("reference", "join", "flagship"),
    )
)


def _qe(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = catalog.weather_daily(spark, sf_dir)
    return (
        w.groupBy(F.date_format("weather_date", "yyyy-MM").alias("year_month_"))
        .agg(exact_decimal_sum(F.col("precip")).alias("total_precip"))
        .orderBy("year_month_")
    )


register(
    QuerySpec(
        "qe_monthly_precipitation",
        _qe,
        with_ref_views(
            """
SELECT strftime(weather_date, '%Y-%m') AS year_month_,
       CAST(sum(CAST(precip AS DECIMAL(18,2))) AS DOUBLE) AS total_precip
FROM weather_daily
GROUP BY strftime(weather_date, '%Y-%m')
ORDER BY year_month_
"""
        ),
        doc="Qe: monthly total precipitation (reference analysis_queries.sql:45-51)",
        tags=("reference", "aggregation"),
    )
)


def _qf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = catalog.violations(spark, sf_dir)
    d = F.col("violation_desc")
    return catalog.dimension_sized(
        v.where(
            d.like("%MPH OVER%")
            & ~d.like("%UP TO TEN MPH OVER%")
            & ~d.like("%1-10 MPH OVER%")
        )
        .groupBy("month")
        .agg(exact_decimal_sum(F.col("fine_amount")).alias("total_fines"))
    ).orderBy("month")


register(
    QuerySpec(
        "qf_monthly_speeding_fines",
        _qf,
        with_ref_views(
            """
SELECT month,
       CAST(sum(CAST(fine_amount AS DECIMAL(18,2))) AS DOUBLE) AS total_fines
FROM violations
WHERE violation_desc LIKE '%MPH OVER%'
  AND violation_desc NOT LIKE '%UP TO TEN MPH OVER%'
  AND violation_desc NOT LIKE '%1-10 MPH OVER%'
GROUP BY month
ORDER BY month
"""
        ),
        doc="Qf: monthly fines for >10mph-over speeding — LIKE + 2x NOT LIKE "
        "(reference analysis_queries.sql:54-63)",
        tags=("reference", "filter", "aggregation"),
    )
)


def _qg(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = catalog.violations(spark, sf_dir)
    per_day_hour = catalog.dimension_sized(
        v.groupBy(
            F.to_date("issue_date").alias("d"),
            F.hour("issue_date").cast("long").alias("hour_of_day"),
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_day_hour.groupBy("hour_of_day")
        .agg(F.avg("c").alias("avg_tickets"))
        .orderBy("hour_of_day")
    )


register(
    QuerySpec(
        "qg_avg_tickets_per_hour",
        _qg,
        with_ref_views(
            """
SELECT hour_of_day, avg(c) AS avg_tickets
FROM (
  SELECT CAST(issue_date AS DATE) AS d,
         CAST(hour(issue_date) AS BIGINT) AS hour_of_day,
         count(*) AS c
  FROM violations
  GROUP BY 1, 2
) t
GROUP BY hour_of_day
ORDER BY hour_of_day
"""
        ),
        doc="Qg: two-level agg, avg tickets per hour-of-day "
        "(reference analysis_queries.sql:67-80)",
        tags=("reference", "two-level-agg"),
    )
)


def _qh(spark: SparkSession, sf_dir: str) -> DataFrame:
    acc = F.col("accident_indicator")
    j = _daily_weather_join(
        spark,
        sf_dir,
        acc_day=F.sum(F.when(acc == "Y", 1).otherwise(0)),
        non_acc_day=F.sum(F.when(acc.isNull() | (acc != "Y"), 1).otherwise(0)),
    )
    return (
        j.groupBy("is_rain")
        .agg(
            F.sum("acc_day").cast("long").alias("accident_tickets"),
            F.sum("non_acc_day").cast("long").alias("non_accident_tickets"),
        )
        .orderBy("is_rain")
    )


register(
    QuerySpec(
        "qh_accidents_rain_vs_dry",
        _qh,
        with_ref_views(
            """
SELECT w.is_rain,
       CAST(sum(CASE WHEN v.accident_indicator = 'Y' THEN 1 ELSE 0 END) AS BIGINT)
         AS accident_tickets,
       CAST(sum(CASE WHEN v.accident_indicator IS NULL
                       OR v.accident_indicator <> 'Y' THEN 1 ELSE 0 END) AS BIGINT)
         AS non_accident_tickets
FROM violations v
JOIN weather_daily w ON v.violation_date = w.weather_date
GROUP BY w.is_rain
ORDER BY w.is_rain
"""
        ),
        doc="Qh: conditional aggregation over the date join, NULL-aware "
        "predicate (reference analysis_queries.sql:82-91)",
        tags=("reference", "join", "conditional-agg"),
    )
)


def _v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = catalog.violations(spark, sf_dir)
    return v.agg(
        F.date_format(F.max("violation_date"), "yyyy-MM-dd").alias(
            "max_violation_date"
        ),
        F.count(F.lit(1)).alias("violation_count"),
    )


register(
    QuerySpec(
        "v1_violations_verification",
        _v1,
        with_ref_views(
            """
SELECT strftime(max(violation_date), '%Y-%m-%d') AS max_violation_date,
       count(*) AS violation_count
FROM violations
"""
        ),
        doc="V1/V2: violations watermark + row-count verification "
        "(reference DEPLOYMENT.md:231-241)",
        tags=("reference", "verification"),
    )
)


def _v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = catalog.weather_daily(spark, sf_dir)
    return w.agg(
        F.date_format(F.max("weather_date"), "yyyy-MM-dd").alias("max_weather_date"),
        F.count(F.lit(1)).alias("weather_count"),
    )


register(
    QuerySpec(
        "v2_weather_verification",
        _v2,
        with_ref_views(
            """
SELECT strftime(max(weather_date), '%Y-%m-%d') AS max_weather_date,
       count(*) AS weather_count
FROM weather_daily
"""
        ),
        doc="V3/V4: weather watermark + row-count verification "
        "(reference DEPLOYMENT.md:231-241)",
        tags=("reference", "verification"),
    )
)
