"""The application entry points (cli.py) — history load, idempotent
append-only daily load, and query listing, against a temp warehouse."""

import datetime as dt
import os
import pathlib
import re
import shutil

from pyspark.sql import functions as F

from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.cli import main
from dc_moving_violations_cloud_etl_spark.operators.sinks import (
    dedupe_by_key,
    write_partitioned,
)

CUTOFF = dt.date(1998, 6, 15)


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


def test_daily_load_appends_only_the_new_rows(spark, sf_dir, tmp_path, capsys):
    wh = str(tmp_path / "wh")
    _warehouse_through(spark, sf_dir, wh, CUTOFF)
    table = pathlib.Path(wh) / "violations"
    as_of = CUTOFF + dt.timedelta(days=20)
    day = F.col("violation_date")
    batch = catalog.violations(spark, sf_dir).where(
        (day > F.lit(CUTOFF)) & (day < F.lit(as_of))
    )
    want = batch.count()
    touched = {r["month"] for r in batch.select("month").distinct().collect()}
    n_before = spark.read.parquet(str(table)).count()
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


def test_list_names_every_registered_query(capsys):
    from dc_moving_violations_cloud_etl_spark.queries import get_queries

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for name in get_queries():
        assert name in out
