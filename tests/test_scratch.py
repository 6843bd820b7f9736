"""Scratch-state policy (scratch.py): the fixture-keyed atomic publish,
the generation sweep, per-process dirs and pid-liveness sweeping. No
Spark session."""

from __future__ import annotations

import multiprocessing
import os
import re
import time
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

import dc_moving_violations_cloud_etl_spark as pkg
from dc_moving_violations_cloud_etl_spark import scratch
from dc_moving_violations_cloud_etl_spark.scratch import (
    pid_alive,
    sweep_dead_scratch,
)


def test_pid_alive_self_and_dead():
    assert pid_alive(os.getpid())
    # pid 1 is init — alive but not ours (PermissionError path)
    assert pid_alive(1)


def _mkdir_aged(root, name, age_s):
    d = os.path.join(root, name)
    os.makedirs(d)
    old = time.time() - age_s
    os.utime(d, (old, old))
    return d


def test_sweep_respects_age_liveness_and_ownership(tmp_path):
    root = str(tmp_path)
    # dead pid, old -> swept. 2**22+9999 exceeds any default pid_max.
    dead_old = _mkdir_aged(root, f"demo_{2**22 + 9999}", 7200)
    # dead pid but YOUNG -> kept (mid-run tolerance / pid-probe misfire)
    dead_young = _mkdir_aged(root, f"demo_{2**22 + 9998}", 10)
    # live pid (ours), old -> kept
    ours_old = _mkdir_aged(root, f"demo_{os.getpid()}", 7200)
    # non-matching prefix, dead + old -> kept
    other = _mkdir_aged(root, f"keepme_{2**22 + 9997}", 7200)
    # non-pid suffix -> kept
    nonpid = _mkdir_aged(root, "demo_notapid", 7200)

    sweep_dead_scratch(root, ("demo_",), min_age_s=3600)

    assert not os.path.exists(dead_old)
    for d in (dead_young, ours_old, other, nonpid):
        assert os.path.exists(d)


def _fixture(tmp_path, name, payload=b"v1"):
    sf = tmp_path / name
    sf.mkdir(exist_ok=True)
    (sf / "events.parquet").write_bytes(payload)
    return str(sf)


def _mark_writer(out):
    os.makedirs(out)
    Path(out, "data").write_text("x")


def _stage_in_worker(root, sf_dir, barrier_dir):
    """Both workers enter ``write`` together, so both reach the rename."""
    scratch.ROOT = root

    def write(out):
        os.makedirs(out)
        Path(out, f"writer_{os.getpid()}").write_text("x")
        Path(barrier_dir, str(os.getpid())).touch()
        deadline = time.time() + 30
        while len(os.listdir(barrier_dir)) < 2 and time.time() < deadline:
            time.sleep(0.01)
        # the other process's write never touches this one's copy
        assert os.listdir(out) == [f"writer_{os.getpid()}"]

    d = scratch.staged("race", sf_dir, write)
    return d, tuple(sorted(os.listdir(d)))


def test_concurrent_staging_publishes_one_complete_copy(tmp_path):
    root = str(tmp_path / "root")
    sf = _fixture(tmp_path, "sf")
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=2, mp_context=ctx) as pool:
        futs = [
            pool.submit(_stage_in_worker, root, sf, str(barrier))
            for _ in range(2)
        ]
        seen = {f.result(timeout=120) for f in futs}
    assert len(os.listdir(barrier)) == 2  # both processes wrote a copy
    # both returned the same dir and saw the same complete contents
    ((d, listing),) = seen
    assert listing == tuple(sorted(os.listdir(d)))
    assert scratch.MARKER in listing
    assert len([e for e in listing if e.startswith("writer_")]) == 1
    assert not [e for e in os.listdir(root) if ".tmp." in e]


def test_marker_less_partial_dir_is_replaced(tmp_path, monkeypatch):
    monkeypatch.setattr(scratch, "ROOT", str(tmp_path / "root"))
    sf = _fixture(tmp_path, "sf")
    d = scratch.fixture_dir("partial", sf, "events.parquet")
    os.makedirs(d)
    Path(d, "half_written").write_text("x")

    assert scratch.staged("partial", sf, _mark_writer) == d
    assert sorted(os.listdir(d)) == sorted(["data", scratch.MARKER])
    # published: the next call reuses it without writing
    assert scratch.staged("partial", sf, None) == d


def test_stale_generation_is_swept_other_fixture_kept(tmp_path, monkeypatch):
    root = tmp_path / "root"
    monkeypatch.setattr(scratch, "ROOT", str(root))
    sf1 = _fixture(tmp_path, "sf1")
    sf2 = _fixture(tmp_path, "sf2")
    old1 = scratch.staged("gen", sf1, _mark_writer)
    other = scratch.staged("gen", sf2, _mark_writer)
    other_kind = scratch.staged("kind2", sf1, _mark_writer)

    _fixture(tmp_path, "sf1", payload=b"regenerated")
    new_dir = scratch.fixture_dir("gen", sf1, "events.parquet")
    # another process staging the NEW generation keeps its tmp dir
    in_flight = Path(f"{new_dir}.tmp.{2**22 + 9999}")
    in_flight.mkdir()
    new1 = scratch.staged("gen", sf1, _mark_writer)

    assert new1 == new_dir != old1
    assert not os.path.exists(old1)
    assert os.path.exists(other) and os.path.exists(other_kind)
    assert in_flight.exists()


def test_private_dir_sweeps_only_its_own_prefix(tmp_path, monkeypatch):
    root = str(tmp_path)
    monkeypatch.setattr(scratch, "ROOT", root)
    dead = 2**22 + 9999
    mine_dead = _mkdir_aged(root, f"alpha_{dead}", 7200)
    other_dead = _mkdir_aged(root, f"beta_{dead}", 7200)
    d = os.path.join(root, f"alpha_{os.getpid()}")
    os.makedirs(d)
    Path(d, "stale").write_text("x")

    assert scratch.private_dir("alpha") == d
    assert os.listdir(d) == []
    assert not os.path.exists(mine_dead)
    assert os.path.exists(other_dead)


def test_only_scratch_names_the_root_or_a_pid_tmp_dir():
    root = Path(pkg.__file__).parent
    pid_tmp = re.compile(r"\.tmp\.\{os\.getpid\(\)\}")
    offenders = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if scratch.ROOT in p.read_text() or pid_tmp.search(p.read_text())
    )
    assert offenders == ["scratch.py"]
