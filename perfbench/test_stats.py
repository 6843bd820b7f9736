"""Unit tests for the benchmark's own arithmetic; no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from expected import canon_hash, canon_value  # noqa: E402
from tracing import EventLog, Tracer  # noqa: E402


def test_sum_of_medians_takes_each_kinds_median():
    assert stats.sum_of_medians({"a": [1.0, 3.0, 2.0], "b": [10.0]}) == 12.0
    # an even count takes the mean of the middle two
    assert stats.sum_of_medians({"a": [1.0, 2.0, 4.0, 100.0]}) == 3.0
    with pytest.raises(ValueError):
        stats.sum_of_medians({})


def test_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 101)]
    # rank 90 of 100 leaves exactly ten samples beyond
    assert stats.supported_percentile(values, 90.0) == 90.0
    # rank ceil(0.9 * 99) = 90 of 99 leaves nine
    assert stats.supported_percentile(values[:99], 90.0) is None
    assert stats.supported_percentile([], 50.0) is None


def test_highest_supported_percentile_falls_back_to_lower_ranks():
    values = [float(i) for i in range(1, 21)]
    assert stats.highest_supported_percentile(values) == (50.0, 10.0)
    assert stats.highest_supported_percentile(values[:19]) is None
    many = [float(i) for i in range(1, 1001)]
    assert stats.highest_supported_percentile(many) == (99.0, 990.0)


def test_error_rate_accounting():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(4, 1) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_spread_is_iqr_over_median():
    values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    # statistics.quantiles(n=4) on 1..10 gives 2.75 and 8.25
    assert stats.spread(values) == pytest.approx((8.25 - 2.75) / 5.5)


def _write(path: str, nbytes: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"x" * nbytes)


def test_write_amplification_from_a_directory_walk(tmp_path):
    root = str(tmp_path / "violations")
    _write(f"{root}/month=2001-01/part-0.parquet", 1000)
    _write(f"{root}/month=2001-02/part-0.parquet", 3000)
    _write(f"{root}/_SUCCESS", 0)
    before = stats.snapshot(root)

    # a rewrite lands in a fresh file (new inode), one month is
    # untouched, one partition is new, bookkeeping files do not count
    tmp = f"{root}/month=2001-01/.part-0.tmp"
    _write(tmp, 1200)
    os.replace(tmp, f"{root}/month=2001-01/part-0.parquet")
    _write(f"{root}/month=2001-03/part-0.parquet", 800)
    _write(f"{root}/month=2001-03/.part-0.parquet.crc", 16)
    after = stats.snapshot(root)

    assert stats.written_since(before, after) == (2000, 2)
    assert stats.written_since(after, after) == (0, 0)
    assert stats.table_bytes(after) == 5000
    # 100 rows in 5000 bytes is 50 bytes a row; 4 inserted rows are
    # 200 bytes, against 2000 written
    assert stats.write_amplification(2000, 4, 100, 5000) == 10.0
    with pytest.raises(ValueError):
        stats.write_amplification(2000, 0, 100, 5000)


def test_canon_hash_ignores_row_and_column_order():
    a = canon_hash(["x", "y"], [(1, "a"), (2, None)])
    b = canon_hash(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != canon_hash(["x", "y"], [(1, "a"), (2, "b")])
    assert canon_value(float("nan")) == canon_value(None) == "<NULL>"
    assert canon_value(0.1) == "0.1"


def test_canon_value_matches_the_test_suites_rule():
    conftest = pytest.importorskip("tests.conftest")
    for v in (None, 3, 0.30000000000000004, "s", [1, 2.5, None]):
        assert canon_value(v) == conftest._canon_value(v)


def test_self_time_subtracts_child_spans():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("build"):
            pass
        with tr.span("exec"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    child = sum(spans[n]["end"] - spans[n]["start"] for n in ("build", "exec"))
    whole = spans["op"]["end"] - spans["op"]["start"]
    assert tr.self_times()["op"] == pytest.approx(whole - child)
    assert spans["build"]["parent"] == spans["op"]["id"]


def test_event_log_attributes_work_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "op1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 4000, "Stage IDs": [3], "Properties": {}},
    ]
    for sid, ntasks in ((0, 4), (2, 1), (3, 2)):
        events.append({"Event": "SparkListenerStageCompleted",
                       "Stage Info": {"Stage ID": sid, "Number of Tasks": ntasks}})
    for sid in (0, 0, 2, 3):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                       "Task Metrics": {
                           "Executor Run Time": 500,
                           "Executor CPU Time": 250_000_000,
                           "JVM GC Time": 10,
                           "Disk Bytes Spilled": 7,
                           "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                       }})
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events))
    g = EventLog(str(tmp_path), {"op1": 2000.0}).groups["op1"]
    assert (g.jobs, g.build_jobs, g.stages, g.one_task_stages, g.tasks) == (
        2, 1, 2, 1, 3)
    assert g.executor_run_s == pytest.approx(1.5)
    assert g.executor_cpu_s == pytest.approx(0.75)
    assert g.gc_s == pytest.approx(0.03)
    assert (g.shuffle_write_bytes, g.spill_bytes) == (300, 21)
