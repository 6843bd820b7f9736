"""The application entry points (cli.py) — history load, idempotent
append-only daily load, and query listing, against a temp warehouse."""

import datetime as dt
import os
import pathlib
import re
import shutil

import pytest
from pyspark.sql import functions as F

from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.cli import main
from dc_moving_violations_cloud_etl_spark.operators import incremental
from dc_moving_violations_cloud_etl_spark.operators.sinks import (
    dedupe_by_key,
    write_partitioned,
)

from .test_reference_grain import variant  # noqa: F401 - fixture

CUTOFF = dt.date(1998, 6, 15)
# jobs per warm day at sf0.001: the watermark/row-count aggregate (2),
# the observed append, which computes the batch as it writes it (4), and
# the weather check (1), plus 1 file listing that runs as a job because
# this table has more month directories than
# spark.sql.sources.parallelPartitionDiscovery.threshold: the read. A
# table under the threshold is listed on the driver: 7 jobs a day.
DAY_JOB_BUDGET = 8


def _warehouse_through(spark, sf_dir, wh, cutoff):
    """The warehouse ``history-load`` writes, with violations only
    through ``cutoff``."""
    v = catalog.violations(spark, sf_dir).where(
        F.col("violation_date") <= F.lit(cutoff)
    )
    write_partitioned(dedupe_by_key(v, ["violation_id"]), f"{wh}/violations", "month")
    w = dedupe_by_key(catalog.weather_daily(spark, sf_dir), ["weather_date"])
    w.coalesce(1).write.mode("overwrite").parquet(f"{wh}/weather_daily")


def _daily_load(wh, sf_dir, as_of, capsys) -> dict[str, str]:
    """Run ``daily-load --as-of`` and parse its ``key=value`` summary."""
    assert main([
        "daily-load", "--sf-dir", sf_dir, "--warehouse", wh,
        "--as-of", as_of.isoformat(),
    ]) == 0
    return dict(re.findall(r"(\w+)=(\S+)", capsys.readouterr().out))


def _data_files(table: pathlib.Path) -> dict[str, int]:
    """Parquet data file (relative path) → mtime in ns."""
    return {
        str(p.relative_to(table)): p.stat().st_mtime_ns
        for p in table.rglob("part-*.parquet")
    }


def test_history_then_daily_load_is_idempotent(spark, sf_dir, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    assert main(["history-load", "--sf-dir", sf_dir, "--warehouse", wh]) == 0
    out1 = capsys.readouterr().out
    assert "history-load complete" in out1
    assert (pathlib.Path(wh) / "violations").is_dir()

    # replay: the incremental load at the current watermark inserts 0
    assert main(["daily-load", "--sf-dir", sf_dir, "--warehouse", wh]) == 0
    out2 = capsys.readouterr().out
    assert "inserted=0" in out2


def _assert_day_appends_only_new_rows(spark, sf_dir, wh, as_of, capsys):
    """``daily-load --as-of`` inserts exactly the source rows after the
    table's watermark, keeps ids unique, rewrites no file and adds one
    file to each month it touches; its replay inserts and writes
    nothing."""
    table = pathlib.Path(wh) / "violations"
    wm, n_before = spark.read.parquet(str(table)).agg(
        F.max("violation_date"), F.count(F.lit(1))
    ).first()
    day = F.col("violation_date")
    batch = catalog.violations(spark, sf_dir).where(
        (day > F.lit(wm)) & (day < F.lit(as_of))
    )
    want = batch.count()
    touched = {r["month"] for r in batch.select("month").distinct().collect()}
    files_before = _data_files(table)

    out = _daily_load(wh, sf_dir, as_of, capsys)
    assert want > 0
    assert int(out["inserted"]) == want
    assert int(out["total"]) == n_before + want
    row = spark.read.parquet(str(table)).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("violation_id").alias("ids")
    ).collect()[0]
    assert row["n"] == row["ids"] == n_before + want

    # append-only: no existing file is rewritten, and the batch adds
    # exactly one file to each month it touches and none elsewhere
    files_after = _data_files(table)
    assert {p: files_after.get(p) for p in files_before} == files_before
    new = sorted(p.split(os.sep)[0] for p in set(files_after) - set(files_before))
    assert new == sorted(f"month={m}" for m in touched)

    # replay inserts nothing and writes nothing
    assert _daily_load(wh, sf_dir, as_of, capsys)["inserted"] == "0"
    assert _data_files(table) == files_after


def test_daily_load_appends_only_the_new_rows(spark, sf_dir, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    _assert_day_appends_only_new_rows(
        spark, sf_dir, wh, CUTOFF + dt.timedelta(days=20), capsys
    )


def test_daily_load_is_partition_invariant(variant, spark, sf_dir, tmp_path, capsys):
    """Shuffle width and AQE must not change what a warm day inserts,
    the files it adds or what its observed count reads."""
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    _daily_load(wh, sf_dir, CUTOFF + dt.timedelta(days=10), capsys)  # warm
    _assert_day_appends_only_new_rows(
        spark, sf_dir, wh, CUTOFF + dt.timedelta(days=20), capsys
    )


def test_an_empty_day_inserts_nothing_and_writes_no_file(spark, sf_dir, tmp_path, capsys):
    """A day range that holds no source row still runs the append: its
    observed count must read 0, and the write must add no file."""
    wh = str(tmp_path / "wh")
    last = catalog.violations(spark, sf_dir).agg(F.max("violation_date")).first()[0]
    _warehouse_through(spark, sf_dir, wh, last)
    table = pathlib.Path(wh) / "violations"
    files = _data_files(table)
    n = spark.read.parquet(str(table)).count()

    out = _daily_load(wh, sf_dir, last + dt.timedelta(days=3), capsys)
    assert out["watermark_before"] == last.isoformat()
    assert out["inserted"] == "0"
    assert int(out["total"]) == n
    assert _data_files(table) == files


def test_daily_load_upserts_a_changed_weather_row(spark, sf_dir, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    src = dedupe_by_key(catalog.weather_daily(spark, sf_dir), ["weather_date"])
    day, precip = (
        src.where(F.col("precip").isNotNull())
        .orderBy("weather_date")
        .select("weather_date", "precip")
        .first()
    )
    # same row count, one changed value: the warehouse is stale
    wpath = f"{wh}/weather_daily"
    spark.read.parquet(wpath).withColumn(
        "precip",
        F.when(F.col("weather_date") == F.lit(day), F.lit(precip + 1.0))
        .otherwise(F.col("precip")),
    ).coalesce(1).write.parquet(f"{wh}/weather_stale")
    shutil.rmtree(wpath)
    os.rename(f"{wh}/weather_stale", wpath)

    out = _daily_load(wh, sf_dir, CUTOFF + dt.timedelta(days=1), capsys)
    assert out["weather_upserted"] == "1"
    table = spark.read.parquet(wpath)
    assert table.where(F.col("weather_date") == F.lit(day)).first()["precip"] == precip
    assert table.count() == src.count()
    assert table.exceptAll(src.select(*table.columns)).count() == 0

    again = _daily_load(wh, sf_dir, CUTOFF + dt.timedelta(days=1), capsys)
    assert again["weather_upserted"] == "0"


def test_cold_start_inserts_the_source_before_as_of(spark, sf_dir, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    as_of = CUTOFF + dt.timedelta(days=1)
    want = (
        catalog.violations(spark, sf_dir)
        .where(F.col("violation_date") < F.lit(as_of))
        .select("violation_id").distinct().count()
    )
    out = _daily_load(wh, sf_dir, as_of, capsys)
    assert out["watermark_before"] == "None"
    assert int(out["inserted"]) == int(out["total"]) == want > 0
    table = spark.read.parquet(f"{wh}/violations")
    assert table.count() == want
    assert table.agg(F.max("violation_date")).first()[0] < as_of


def test_unreadable_table_raises_instead_of_a_cold_start(spark, sf_dir, tmp_path, capsys):
    """A table that exists but cannot be read must not be taken for an
    empty one: that would re-append every source row."""
    table = tmp_path / "wh" / "violations"
    bad = table / f"month={CUTOFF:%Y-%m}" / "part-00000-corrupt.parquet"
    bad.parent.mkdir(parents=True)
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        main([
            "daily-load", "--sf-dir", sf_dir, "--warehouse", str(tmp_path / "wh"),
            "--as-of", CUTOFF.isoformat(),
        ])
    assert [p for p in table.rglob("*") if p.is_file()] == [bad]


def test_violation_ids_embed_their_month(spark, sf_dir):
    """The month prune of the daily anti-join relies on this: a key can
    only collide with a key of its own month."""
    v = catalog.violations(spark, sf_dir)
    prefixed = F.col("violation_id").startswith(F.concat(F.col("month"), F.lit("_")))
    assert v.count() > 0
    assert v.where(~F.coalesce(prefixed, F.lit(False))).count() == 0


def test_daily_load_reads_only_the_batch_months(spark, sf_dir, tmp_path, capsys, monkeypatch):
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    table = pathlib.Path(wh) / "violations"
    wm = spark.read.parquet(str(table)).agg(F.max("violation_date")).first()[0]
    as_of = CUTOFF + dt.timedelta(days=20)
    first, last = wm + dt.timedelta(days=1), as_of - dt.timedelta(days=1)
    sides = []
    rows = incremental.incremental_rows

    def spy(existing, *a, **kw):
        sides.append(existing)
        return rows(existing, *a, **kw)

    monkeypatch.setattr(incremental, "incremental_rows", spy)
    assert int(_daily_load(wh, sf_dir, as_of, capsys)["inserted"]) > 0
    (side,) = sides
    read = {
        re.search(r"month=([^/]+)/", r[0]).group(1)
        for r in side.select(F.input_file_name()).distinct().collect()
    }
    stored = {p.name.split("=", 1)[1] for p in table.glob("month=*")}
    assert read
    assert read <= {m for m in stored if f"{first:%Y-%m}" <= m <= f"{last:%Y-%m}"}
    assert len(stored) > len(read)


def test_warm_daily_load_stays_in_job_budget(spark, sf_dir, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    _daily_load(wh, sf_dir, CUTOFF + dt.timedelta(days=10), capsys)  # warm
    sc = spark.sparkContext
    group = "job-budget-daily-load"
    sc.setJobGroup(group, "daily-load")
    try:
        out = _daily_load(wh, sf_dir, CUTOFF + dt.timedelta(days=20), capsys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert int(out["inserted"]) > 0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= DAY_JOB_BUDGET, f"{jobs} jobs"


def _weather_with_nulls(spark, sf_dir):
    """The weather source with one NULL cell (the fixtures hold none);
    the date of that cell and of an untouched day."""
    src = dedupe_by_key(catalog.weather_daily(spark, sf_dir), ["weather_date"])
    null_day, value_day = [
        r[0] for r in src.orderBy("weather_date").select("weather_date").take(2)
    ]
    src = src.withColumn(
        "precip",
        F.when(F.col("weather_date") == F.lit(null_day), F.lit(None))
        .otherwise(F.col("precip")),
    ).persist()
    return src, null_day, value_day


@pytest.mark.parametrize("stored", ["unchanged", "null_for_value", "value_for_null"])
def test_weather_check_compares_nulls_as_equal(spark, sf_dir, tmp_path, capsys, monkeypatch, stored):
    """A NULL cell that differs from the source is a change both ways,
    and NULL cells that match are not: the exceptAll semantics."""
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    src, null_day, value_day = _weather_with_nulls(spark, sf_dir)
    monkeypatch.setattr(catalog, "weather_daily", lambda *a, **kw: src)
    day, value = {
        "unchanged": (null_day, None),
        "null_for_value": (value_day, None),
        "value_for_null": (null_day, 1.5),
    }[stored]
    wpath = f"{wh}/weather_daily"
    src.withColumn(
        "precip",
        F.when(F.col("weather_date") == F.lit(day), F.lit(value).cast("double"))
        .otherwise(F.col("precip")),
    ).coalesce(1).write.mode("overwrite").parquet(wpath)

    out = _daily_load(wh, sf_dir, CUTOFF + dt.timedelta(days=1), capsys)
    assert out["weather_upserted"] == ("0" if stored == "unchanged" else "1")
    table = spark.read.parquet(wpath)
    assert table.count() == src.count()
    assert table.exceptAll(src.select(*table.columns)).count() == 0
    assert table.where(F.col("precip").isNull()).count() == 1
    src.unpersist()


def test_list_names_every_registered_query(capsys):
    from dc_moving_violations_cloud_etl_spark.queries import get_queries

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in get_queries():
        assert name in out
