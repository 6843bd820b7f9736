"""The driver records only the LAST ~2000 bytes of bench.py stdout —
round 3's headline was lost because one big JSON line put "value" at
the head. These tests pin the fix: stdout must END with a short
headline-only JSON line that always survives the tail cut (VERDICT r3
rec #3). Pure-Python: no Spark session involved.
"""

import json

import pytest

from bench import HEADLINE, build_summary

DRIVER_TAIL_BYTES = 2000


def _fake_out(n_extras: int = 200) -> tuple[dict, list[str]]:
    """A worst-case full record: every headline query timed plus a large
    extension surface with long names (the size the summary must stay
    immune to)."""
    extras = [f"extension_query_with_a_long_name_{i:04d}" for i in range(n_extras)]
    per_query = {n: round(0.1 + i * 0.001, 4) for i, n in enumerate(HEADLINE)}
    per_query.update({n: 1.2345 for n in extras})
    out = {
        "metric": "reference_surface_total_wallclock",
        "value": 4.8123,
        "unit": "sec",
        "queries": per_query,
        "streaming_total": 22.4413,
        "calib_start_sec": 0.61,
        "calib_end_sec": 0.64,
        "sf": 0.1,
        "errors": {"some_query": "RuntimeError: boom"},
    }
    return out, extras


def test_summary_fits_driver_stdout_tail():
    out, extras = _fake_out()
    line = json.dumps(build_summary(out, HEADLINE, extras, "/tmp/d.json"))
    assert len(line.encode()) < DRIVER_TAIL_BYTES // 2, (
        f"summary line is {len(line)} bytes; it must fit the driver's "
        f"{DRIVER_TAIL_BYTES}-byte tail with headroom"
    )


def test_summary_carries_the_official_record():
    out, extras = _fake_out()
    s = build_summary(out, HEADLINE, extras, "/tmp/d.json")
    # the driver-spec headline shape
    assert s["metric"] == "reference_surface_total_wallclock"
    assert s["value"] == 4.8123 and s["unit"] == "sec" and s["sf"] == 0.1
    # every reference query's individual time is retained
    assert set(s["queries"]) == set(HEADLINE)
    # streaming segregated from the headline; extensions summed
    assert s["streaming_total"] == 22.4413
    assert s["extensions_total"] == round(1.2345 * len(extras), 4)
    assert s["n_errors"] == 1
    assert s["n_queries_timed"] == len(out["queries"])
    # the load-calibration probes ride along so round-over-round deltas
    # are interpretable against host load (VERDICT r8 rec #4)
    assert s["calib_start_sec"] == 0.61 and s["calib_end_sec"] == 0.64


def test_load_calibration_is_fast_and_positive():
    from bench import load_calibration

    dt = load_calibration(iters=10_000)
    assert 0 < dt < 5.0


def test_summary_tolerates_missing_headline_times():
    """A headline query that errored has no per-query time — the
    summary must simply omit it, never raise (the record of a partially
    failed run is more valuable than a crash)."""
    out, extras = _fake_out()
    del out["queries"][HEADLINE[0]]
    s = build_summary(out, HEADLINE, extras, "/tmp/d.json")
    assert HEADLINE[0] not in s["queries"]
    assert len(s["queries"]) == len(HEADLINE) - 1


def test_median_of_completed_fault_isolation():
    """ADVICE r9: a raising re-pass must never discard the already
    successful first pass — fall back to the median/min of completed
    passes."""
    from bench import median_of_completed

    # all passes complete -> true median of three
    times = iter([0.0, 5.0, 0.0, 1.0])
    import time as _t

    real = _t.perf_counter
    try:
        _t.perf_counter = lambda: next(times)
        got = median_of_completed(3.0, lambda: None)
    finally:
        _t.perf_counter = real
    assert got == 3.0  # passes [3.0, 5.0, 1.0] -> median 3.0

    # first re-pass raises -> keep the single completed pass
    def boom():
        raise RuntimeError("re-pass died")

    assert median_of_completed(2.5, boom) == 2.5

    # one re-pass completes, second raises -> min of the two completed
    calls = {"n": 0}

    def second_boom():
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("pass 3 died")

    times2 = iter([0.0, 9.0, 0.0])  # 3rd value: t1 read before pass 3 raises
    try:
        _t.perf_counter = lambda: next(times2)
        got2 = median_of_completed(4.0, second_boom)
    finally:
        _t.perf_counter = real
    assert got2 == 4.0  # completed [4.0, 9.0] -> lower middle


# ── acceptance gate (r11, VERDICT r10 rec #1) ──────────────────────────


def _hist_entry(value, ext_each, stream, sf=0.1, **kw):
    q = {n: 0.1 for n in HEADLINE}
    q.update({f"ext_{i}": ext_each for i in range(10)})
    q.update({"stream_a": stream / 2, "stream_b": stream / 2})
    e = {"value": value, "queries": q, "streaming_total": stream, "sf": sf}
    e.update(kw)
    return e


def test_comparable_history_filters(tmp_path):
    from bench import comparable_history_entries, per_query_history_medians

    p = tmp_path / "hist.jsonl"
    lines = [
        _hist_entry(3.0, 2.0, 40.0),
        _hist_entry(2.8, 2.1, 44.0),
        _hist_entry(2.9, 1.9, 42.0),
        # non-comparable rows the gate must skip:
        _hist_entry(9.9, 9.9, 99.0, sf=0.01),  # other sf
        _hist_entry(9.9, 9.9, 99.0, contaminated=True),  # gate loser
        # accepted under sustained load: stays out of future medians
        # (ADVICE r11)
        _hist_entry(9.9, 9.9, 99.0, gate_deviant=True),
    ]
    p.write_text("\n".join(json.dumps(e) for e in lines) + "\nnot json\n")
    entries = comparable_history_entries(str(p), 0.1)
    assert len(entries) == 3
    pq = per_query_history_medians(entries)
    assert pq["ext_0"] == 2.0  # median of 2.0 / 2.1 / 1.9
    assert pq["stream_a"] == 21.0  # median of 20 / 22 / 21


def test_comparable_history_insufficient_passes(tmp_path):
    from bench import comparable_history_entries

    p = tmp_path / "hist.jsonl"
    p.write_text(json.dumps(_hist_entry(3.0, 2.0, 40.0)) + "\n")
    assert comparable_history_entries(str(p), 0.1) is None
    assert comparable_history_entries(str(tmp_path / "absent"), 0.1) is None


def test_group_ratio_medians_intersection_and_outliers():
    """ADVICE r11: the gate compares per-query ratio MEDIANS over the
    name intersection — catalog drift (added/removed queries) and one
    contention-hypersensitive outlier must both be unable to trip a
    group."""
    from bench import group_ratio_medians, per_query_history_medians

    base = _hist_entry(3.0, 2.0, 40.0)
    base["queries"]["stream_c"] = 20.0
    hist = per_query_history_medians([base, base, base])
    cur = {n: 0.1 for n in HEADLINE}
    cur.update({f"ext_{i}": 2.0 for i in range(9)})
    cur["ext_brand_new_query"] = 500.0  # not in history: must drop out
    # the r11 exhibit: one stream query 15x slow, its siblings in-band
    cur.update({"stream_a": 20.0 * 15, "stream_b": 20.0, "stream_c": 20.0})
    ratios = group_ratio_medians(cur, hist, HEADLINE)
    assert ratios["value"] == 1.0
    assert ratios["extensions_total"] == 1.0  # outlier name intersected away
    # one 15x outlier among three stream queries: median 1.0 — the
    # group no longer trips on a single hypersensitive query
    assert ratios["streaming_total"] == 1.0
    # a group with fewer than min_common shared names is skipped
    assert "streaming_total" not in group_ratio_medians(
        {"stream_a": 300.0, "stream_b": 20.0}, hist, HEADLINE
    )
    # no history -> no ratios -> unconditional accept
    assert group_ratio_medians(cur, None, HEADLINE) == {}


def test_mark_untrusted_stamps_kept_still_deviant():
    """VERDICT r11 rec #2: a suspect pass must carry the deviant
    groups and their queries as untrusted — a 23.7 s
    similarity_ivfpq_recall must never land in BENCH_DETAIL_latest.json
    as an unqualified latest reading — and the history line must be
    excluded from future acceptance medians."""
    from bench import mark_untrusted

    out, _ = _fake_out(n_extras=2)
    out["queries"]["stream_a"] = 19.91
    out["accept"] = {"status": "suspect"}
    mark_untrusted(out, {"streaming_total": 1.602}, HEADLINE)
    assert out["accept"]["kept_deviations"] == {"streaming_total": 1.602}
    assert out["gate_deviant"] is True
    assert out["untrusted_groups"] == ["streaming_total"]
    assert out["untrusted_queries"] == ["stream_a"]
    # headline/extension queries stay trusted
    assert HEADLINE[0] not in out["untrusted_queries"]


def test_gate_deviations_slow_direction_only():
    from bench import gate_deviations, worst_ratio

    dev = gate_deviations(
        {"value": 1.543, "extensions_total": 1.12, "streaming_total": 1.917}
    )
    assert set(dev) == {"value", "streaming_total"}
    # a faster-than-history pass is a better record, not contamination
    assert gate_deviations(
        {"value": 0.69, "extensions_total": 0.86, "streaming_total": 0.71}
    ) == {}
    assert worst_ratio({"value": 1.1, "streaming_total": 1.917}) == 1.917
    assert worst_ratio({}) == 0.0


def test_per_query_history_medians_min_appearances():
    """ADVICE r12: a name seen in only ONE comparable pass must not
    contribute a 1-sample 'median' to the ratio pool."""
    from bench import per_query_history_medians

    e1 = {"queries": {"a": 1.0, "b": 2.0}}
    e2 = {"queries": {"a": 3.0, "only_once": 9.0}}
    pq = per_query_history_medians([e1, e2])
    assert pq == {"a": 2.0}  # b and only_once each appear once
    # opt-out for callers that want every sample
    assert per_query_history_medians([e1, e2], min_appearances=1) == {
        "a": 2.0, "b": 2.0, "only_once": 9.0,
    }


def test_per_query_history_medians_skip_untrusted_readings():
    """A query reading flagged untrusted in its own history line (lone
    spike or kept-deviant group) must not contribute to the medians
    future gates compare against."""
    from bench import per_query_history_medians

    e1 = {"queries": {"a": 1.0, "b": 2.0}}
    e2 = {"queries": {"a": 30.0, "b": 2.2},
          "untrusted_queries": ["a"]}
    e3 = {"queries": {"a": 1.2, "b": 2.4}}
    pq = per_query_history_medians([e1, e2, e3])
    assert pq["a"] == 1.1  # median of 1.0/1.2 — the 30.0 spike skipped
    assert pq["b"] == 2.2


def test_per_query_outliers_stamps_lone_spikes():
    """ADVICE r12: the group-median gate ignores lone spikes by design;
    the per-query stamp must still flag a >3x reading (the r11 exhibit:
    a 23.7 s similarity_ivfpq_recall inside an in-band group)."""
    from bench import per_query_outliers

    hist = {"ivfpq_recall": 4.0, "ok_query": 1.0}
    cur = {
        "ivfpq_recall": 23.7,       # 5.9x -> flagged
        "ok_query": 1.2,            # in band
        "brand_new": 99.0,          # no history -> cannot be judged
    }
    got = per_query_outliers(cur, hist)
    assert got == {"ivfpq_recall": 5.925}
    assert per_query_outliers(cur, None) == {}


# ── run_gate end-to-end (r13): the exact code path the unattended
# official close-out run takes ─────────────────────────────────────────


def _gate_history(n=3, hl=0.2, ext=2.0, stream=10.0):
    """n comparable history passes with 4 ext and 3 stream queries."""
    q = {name: hl for name in HEADLINE}
    q.update({f"ext_{i}": ext for i in range(4)})
    q.update({f"stream_{i}": stream for i in range(3)})
    return [
        {"utc": f"2026-08-1{i}T00:00:00Z", "queries": dict(q),
         "value": hl * len(HEADLINE), "streaming_total": stream * 3,
         "sf": 0.1}
        for i in range(n)
    ]


def _gate_pass(hl_scale=1.0, ext_scale=1.0, stream_scale=1.0):
    """A measured pass scaled per group against _gate_history bands."""
    q = {name: 0.2 * hl_scale for name in HEADLINE}
    q.update({f"ext_{i}": 2.0 * ext_scale for i in range(4)})
    q.update({f"stream_{i}": 10.0 * stream_scale for i in range(3)})
    return {
        "value": round(0.2 * hl_scale * len(HEADLINE), 4),
        "streaming_total": round(10.0 * stream_scale * 3, 4),
        "queries": q,
        "calib_mid_sec": [0.6, 0.6],
    }


def test_run_gate_ok_path_no_retry():
    from bench import run_gate

    out = run_gate(_gate_pass(), _gate_history(), HEADLINE)
    assert out["accept"]["status"] == "ok"
    assert out["accept"]["worst_ratio"] == 1.0
    assert "untrusted_queries" not in out


def test_run_gate_no_history_accepts_unconditionally():
    from bench import run_gate

    out = run_gate(_gate_pass(hl_scale=50), None, HEADLINE)
    assert out["accept"] == {"status": "no_history"}


def test_run_gate_flags_deviant_groups_without_remeasuring(
    tmp_path, monkeypatch
):
    """A headline-deviant pass is flagged, not re-measured or spliced:
    status ``suspect``, every measured number kept, the deviant group
    stamped untrusted, and exactly one history line written for it."""
    import copy

    from bench import run_gate, write_records

    first = _gate_pass(hl_scale=3.5)
    first.update(metric="reference_surface_total_wallclock", unit="sec",
                 sf=0.1)
    measured = copy.deepcopy(first)
    out = run_gate(first, _gate_history(), HEADLINE)
    assert out["accept"]["status"] == "suspect"
    assert out["accept"]["kept_deviations"] == {"value": 3.5}
    assert out["accept"]["worst_ratio"] == 3.5
    assert out["gate_deviant"] is True
    assert out["untrusted_groups"] == ["value"]
    assert out["untrusted_queries"] == sorted(HEADLINE)
    for key in ("value", "streaming_total", "queries"):
        assert out[key] == measured[key]

    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    history = tmp_path / "history.jsonl"
    write_records(out, HEADLINE, ["ext_0"], str(tmp_path), str(history))
    (line,) = history.read_text().splitlines()
    rec = json.loads(line)
    assert rec["gate_deviant"] is True and "contaminated" not in rec
    assert rec["value"] == measured["value"]


def test_history_replay_flags_contaminated_first_passes(tmp_path):
    """Replays the gate over BENCH_DETAIL_history.jsonl: each first pass
    the retired retry gate marked ``contaminated`` is judged against
    the comparable history written before it. The flag-only rule must
    flag all of them but one: 2026-08-16T07:26:04Z, rejected by the r11
    sum-of-totals rule, reads 0.922 / 0.985 / 1.186 on the per-query
    ratio medians, under the 1.25 bound."""
    import pathlib

    from bench import comparable_history_entries, run_gate

    path = pathlib.Path(__file__).resolve().parent.parent / (
        "BENCH_DETAIL_history.jsonl"
    )
    lines = [ln for ln in path.read_text().splitlines() if ln.strip()]
    prefix = tmp_path / "prefix.jsonl"
    flagged, passed = [], []
    for i, line in enumerate(lines):
        e = json.loads(line)
        if not e.get("contaminated"):
            continue
        prefix.write_text("\n".join(lines[:i]) + "\n")
        entries = comparable_history_entries(
            str(prefix), e["sf"], cpus=e.get("cpus", 32)
        )
        out = run_gate(e, entries, HEADLINE)
        (flagged if out["accept"]["status"] == "suspect" else passed).append(
            e["utc"]
        )
    assert len(flagged) == 18
    assert passed == ["2026-08-16T07:26:04Z"]


def test_only_rejects_unknown_names_before_the_session(monkeypatch):
    """``bench.py --only`` validates its names against the registry and
    exits non-zero before any probe or Spark session starts."""
    import bench

    def must_not_run(*_a, **_k):
        raise AssertionError("must not start before names are checked")

    monkeypatch.setattr(bench, "load_calibration", must_not_run)
    monkeypatch.setattr(bench, "get_spark", must_not_run)
    with pytest.raises(SystemExit) as exc:
        bench.main(["--only", "qb_total_tickets_since", "no_such_query"])
    assert exc.value.code != 0


def test_run_gate_outlier_stamp_on_ok_path():
    """ADVICE r12: one >3x spike inside an in-band group must land in
    untrusted_queries even though no group median trips."""
    from bench import run_gate

    first = _gate_pass()
    first["queries"]["ext_0"] = 2.0 * 12  # lone spike, median untouched
    out = run_gate(first, _gate_history(), HEADLINE)
    assert out["accept"]["status"] == "ok"
    assert out["untrusted_queries"] == ["ext_0"]
    assert out["per_query_outliers"] == {"ext_0": 12.0}
    assert out["accept"]["n_per_query_outliers"] == 1


def test_summary_carries_gate_and_mid_probes():
    out, extras = _fake_out()
    out["calib_mid_sec"] = [0.62, 0.66]
    out["accept"] = {
        "status": "ok",
        "worst_ratio": 1.02,
        "groups_compared": ["extensions_total", "streaming_total", "value"],
    }
    s = build_summary(out, HEADLINE, extras, "/tmp/d.json")
    assert s["calib_mid_sec"] == [0.62, 0.66]
    assert s["accept"]["worst_ratio"] == 1.02
    assert s["accept"]["groups_compared"] == [
        "extensions_total", "streaming_total", "value",
    ]
    # and the summary still fits the driver tail with the new fields
    assert len(json.dumps(s).encode()) < DRIVER_TAIL_BYTES // 2


def test_outlier_burst_stamps_2x_cotravelers():
    """VERDICT r13 rec #1: once any >3x spike proves a burst window,
    readings in the 2-3x band of the same pass are co-travelers and
    must be stamped too (the r13 kept pass carried 15 of them
    unstamped)."""
    from bench import run_gate

    first = _gate_pass()
    first["queries"]["ext_0"] = 2.0 * 12      # >3x spike: burst proven
    # 2-3x co-traveler in ANOTHER group (group medians must hold —
    # only 4 ext names exist here, a second ext outlier would trip
    # the group median and make the pass suspect instead)
    first["queries"]["stream_0"] = 10.0 * 2.5
    first["streaming_total"] = round(10.0 * 2.5 + 10.0 * 2, 4)
    out = run_gate(first, _gate_history(), HEADLINE)
    assert out["accept"]["status"] == "ok"
    assert out["untrusted_queries"] == ["ext_0", "stream_0"]
    assert out["per_query_outliers"] == {"ext_0": 12.0, "stream_0": 2.5}
    assert out["accept"]["n_per_query_outliers"] == 2


def test_no_burst_means_no_2x_stamping():
    """Without a >3x spike the 2-3x band stays unstamped — ordinary
    variance must not be flagged as contamination."""
    from bench import run_gate

    first = _gate_pass()
    first["queries"]["ext_1"] = 2.0 * 2.5  # 2-3x alone, no burst proof
    out = run_gate(first, _gate_history(), HEADLINE)
    assert "per_query_outliers" not in out
    assert "untrusted_queries" not in out


def test_headline_outliers_surfaced_at_accept_level():
    """ADVICE r13 (low): flagged readings inside the headline group
    still sum into the official value — accept.headline_outliers must
    say so."""
    from bench import run_gate

    first = _gate_pass()
    # spike ONE headline query hard; the group ratio MEDIAN stays 1.0
    # (10 of 11 queries in-band), so the pass is accepted
    first["queries"][HEADLINE[0]] = 0.2 * 12
    first["value"] = round(sum(
        v for n, v in first["queries"].items() if n in HEADLINE), 4)
    out = run_gate(first, _gate_history(), HEADLINE)
    assert out["accept"]["status"] == "ok"
    assert out["accept"]["headline_outliers"] == [HEADLINE[0]]
    assert HEADLINE[0] in out["untrusted_queries"]


def test_comparable_history_filters_on_cpus(tmp_path):
    """r14: the driver also benches at a lower SPARK_GRAFT_CPUS to
    measure scaling — a low-core pass must not feed (or be judged
    against) 32-core medians, or the gate would trip on every group
    and flag a clean low-core record. Lines written
    before the cpus stamp count as the historical 32-core default."""
    import json as _json

    from bench import comparable_history_entries

    p = tmp_path / "hist.jsonl"
    legacy = _hist_entry(3.0, 2.0, 40.0)          # pre-stamp: implied 32
    e32a = {**_hist_entry(2.8, 2.1, 44.0), "cpus": 32}
    e32b = {**_hist_entry(2.9, 1.9, 42.0), "cpus": 32}
    e8 = {**_hist_entry(9.0, 8.0, 99.0), "cpus": 8}  # scaling probe
    p.write_text(
        "\n".join(_json.dumps(e) for e in (legacy, e32a, e32b, e8)) + "\n"
    )
    got32 = comparable_history_entries(str(p), 0.1, cpus=32)
    assert len(got32) == 3 and all(e.get("cpus", 32) == 32 for e in got32)
    # only one 8-core pass exists -> below min_passes -> no gate input
    assert comparable_history_entries(str(p), 0.1, cpus=8) is None
    # cpus=None keeps the legacy (unfiltered) behaviour
    assert len(comparable_history_entries(str(p), 0.1)) == 4


def test_heavy_extensions_median_with_cache_isolation():
    """r15 (VERDICT r14 rec #8): heavy extensions are median-of-3 with
    an UNTIMED release_tracked between passes and per-pass readings
    recorded for audit."""
    from bench import median_of_completed

    calls = {"between": 0, "rerun": 0}
    order: list[str] = []

    def between():
        calls["between"] += 1
        order.append("between")

    def rerun():
        calls["rerun"] += 1
        order.append("rerun")

    passes_out: dict = {}
    got = median_of_completed(
        5.0, rerun, between=between, passes_out=passes_out, name="hq"
    )
    # isolation hook runs before EVERY re-pass, never timed after it
    assert calls == {"between": 2, "rerun": 2}
    assert order == ["between", "rerun", "between", "rerun"]
    # all completed passes recorded, first (cold) pass kept auditable
    assert list(passes_out) == ["hq"]
    assert len(passes_out["hq"]) == 3 and passes_out["hq"][0] == 5.0
    # the returned value is the median of the recorded passes
    # (passes_out readings are rounded to 4 dp for the record)
    assert abs(got - sorted(passes_out["hq"])[1]) < 0.001


def test_heavy_extensions_are_known_extension_queries():
    """The frozen heavy list must stay a subset of registered extension
    queries (never headline, never streaming) — a rename would silently
    drop a query back to single-pass timing."""
    from bench import HEADLINE, HEAVY_EXTENSIONS
    from dc_moving_violations_cloud_etl_spark.queries import get_queries

    queries = get_queries()
    for name in HEAVY_EXTENSIONS:
        assert name in queries, f"heavy query {name} not registered"
        assert name not in HEADLINE
        assert not name.startswith("stream_")


def test_heavy_extension_degraded_fallback_records_passes():
    """A raising re-pass on a heavy query keeps the completed passes
    (worst case the cold single pass), records the degradation, and
    still surfaces the completed per-pass readings."""
    from bench import median_of_completed

    degraded: dict = {}
    passes_out: dict = {}

    def boom():
        raise RuntimeError("host fell over")

    got = median_of_completed(
        2.5,
        boom,
        degraded=degraded,
        name="hq",
        between=lambda: None,
        passes_out=passes_out,
    )
    assert got == 2.5
    assert "hq" in degraded and "1/3 passes" in degraded["hq"]
    assert passes_out["hq"] == [2.5]
