"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Stdout ends with ONE short JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock over all headline queries, each the
MEDIAN of three timed passes (after a warm-up of the flagship query to
exclude JVM/session startup, which a long-running cluster amortizes
away; median-of-3 discards both one-off load spikes and one-off lucky
passes, which swung sub-second queries 2-3x between runs). The full
per-query record (all ~280 extension timings) is printed first and
written DURABLY to ``$SPARK_GRAFT_BENCH_DETAIL`` (default
``BENCH_DETAIL_latest.json`` next to this file, i.e. inside the repo so
the round snapshot commits it) and APPENDED with a UTC timestamp to
``BENCH_DETAIL_history.jsonl`` (VERDICT r9 rec #2: the /tmp detail died
with the session, leaving the r9 +20% extensions_total drift
unattributable); the FINAL stdout line carries only the headline +
reference per-query times so the driver's 2000-byte stdout tail always
retains it (VERDICT r3 rec #3).

MEASUREMENT-SEMANTICS NOTE (ADVICE r9): ``streaming_total`` switched in
round 9 from cold single-pass to WARM median-of-3 — pass 1 absorbs
one-time costs (scratch sweep, fixture staging) that passes 2-3 skip —
so r9+ streaming totals are not comparable to r1-r8 without that caveat
(carried in the summary as ``stream_timing``).

CONTAMINATION ACCEPTANCE GATE (r11, VERDICT r10 rec #1): the official
r10 artifact captured a load-contaminated pass — every query ~1.7x slow
vs five same-day calibrated passes with zero code delta — and the
start/end probes (in band) bracketed but never SAMPLED the ~10-minute
window. Defenses, in run order:

1. MID-RUN probes: the CPU calibration probe also runs between query
   groups (after headline, after extensions), recorded as
   ``calib_mid_sec`` — a contention window inside the run is visible.
2. ACCEPTANCE gate — flag, never re-measure or copy: after the one
   measured pass, each query group (headline / extensions / streaming)
   is compared against the most recent comparable passes in
   BENCH_DETAIL_history.jsonl (same sf and cpus, >= 3 passes) by the
   MEDIAN of per-query ratios over the intersection of query names
   (r12, ADVICE r11: raw group-total sums tripped on every catalog
   change, and one contention-hypersensitive query could 1.6x a group
   on its own; a name must appear in >= 2 history passes to
   contribute, ADVICE r12). A group whose ratio median exceeds 1.25
   makes the pass ``suspect``: the group is named in
   ``accept.kept_deviations`` with its ratio, its queries land in
   ``untrusted_queries``, and the history line carries ``gate_deviant``
   so it never feeds a future gate. Independently, any single query
   > 3x its history median — and, once such a spike proves a burst,
   every 2-3x co-traveler of the same pass — is stamped into
   ``untrusted_queries`` (``per_query_outliers``). Every number in the
   record is the one this run measured: keeping the faster of two
   readings, or copying an older pass in, is a selection step, not a
   measurement.

``python bench.py --only NAME ...`` times just the named queries after
the same warm-up, each as the median of three cache-
isolated passes (the ``HEAVY_EXTENSIONS`` rule), and prints one JSON
line with the passes and the calibration probes. A subset pass is
never gated and never written to the detail or history records.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

from dc_moving_violations_cloud_etl_spark import caching, catalog, scratch
from dc_moving_violations_cloud_etl_spark.queries import get_queries
from dc_moving_violations_cloud_etl_spark.session import get_spark

# reference-surface queries are the headline; extension operators are
# benchmarked too but tagged separately in the queries map
HEADLINE = [
    "q0_flagship_rainy_count",
    "qa_monthly_agency_tickets",
    "qb_total_tickets_since",
    "qc_avg_tickets_per_weekday",
    "qd_rainy_day_tickets",
    "qe_monthly_precipitation",
    "qf_monthly_speeding_fines",
    "qg_avg_tickets_per_hour",
    "qh_accidents_rain_vs_dry",
    "v1_violations_verification",
    "v2_weather_verification",
]

# The ten heaviest extension queries of the r14 official record
# (BENCH_DETAIL_history.jsonl, 2026-08-18T03:20:10Z, cpus=32): timed as
# MEDIAN of THREE passes since r15 (VERDICT r14 rec #8) — single-pass
# readings on these swung 2-4x with host load and dominated
# round-over-round attribution (e.g. similarity_pq_recall 4.4->10.2 s
# with zero code change). Each re-pass is cache-isolated
# (release_tracked between passes, untimed) so the median measures the
# operator, not cached recompute; all completed per-pass readings land
# in the record under "heavy_passes" so the cold first pass (per-family
# codegen compile etc.) stays auditable. The list is FROZEN by name —
# additions-only, never renames — to keep history comparability.
HEAVY_EXTENSIONS = frozenset(
    {
        "curation_decontaminate_neardup",
        "similarity_pq_recall",
        "dedup_lsh_band_tradeoff",
        "retrieval_two_stage_rerank",
        "corpus_suffix_array_doubling",
        "udtf_partitioned_gap_stats",
        "corpus_wordpiece_train_merges",
        "semdedup_cluster_pairs",
        "similarity_ivfpq_topk",
        "dedup_components",
    }
)


def load_calibration(iters: int = 1_500_000) -> float:
    """Fixed single-thread CPU probe: a sha256 chain of ``iters`` fixed
    32-byte hashes — deterministic work whose wall-clock varies ONLY
    with host load. Run at bench start and end and recorded in the
    summary (``calib_start_sec`` / ``calib_end_sec``): this box carries
    external load spikes that swing whole-session timings 2-4x with
    zero code changes (observed both directions: r7 +28%, r8 -39%), so
    round-over-round deltas are only interpretable next to a probe that
    says how loaded THIS session was. Calibrated baseline on an idle
    box: ~0.5-0.7 s (SCALING.md 'timing noise')."""
    import hashlib

    t0 = time.perf_counter()
    h = b"spark-graft-load-calibration"
    for _ in range(iters):
        h = hashlib.sha256(h).digest()
    return round(time.perf_counter() - t0, 4)


def median_of_completed(
    first_dt: float,
    rerun,
    n_extra: int = 2,
    degraded: dict | None = None,
    name: str = "",
    between=None,
    passes_out: dict | None = None,
) -> float:
    """Median of up to ``1 + n_extra`` timed passes, FAULT-ISOLATED: the
    first pass already succeeded, so a raising re-pass must never
    discard that measurement (ADVICE r9: a streaming re-pass failure
    used to drop the query from streaming_total entirely). Falls back to
    the median of whatever passes completed — worst case the single
    first pass. A degraded fallback is RECORDED machine-readably (the
    ``degraded`` dict, surfaced in the detail JSON and counted in the
    summary), not just printed to stderr — otherwise the official record
    claims median-of-3 semantics for a timing that is actually cold
    single-pass (r10 review).

    ``between`` (r15, heavy-extension medians): an UNTIMED callable run
    before each re-pass — the per-pass cache-isolation hook
    (``caching.release_tracked``), so a re-pass never reads the prior
    pass's persisted sketches (that would time cached recompute, not
    the operator). ``passes_out`` records every completed pass keyed by
    ``name`` so the official record keeps the cold first pass auditable
    next to the median."""
    passes = [first_dt]
    for _ in range(n_extra):
        try:
            if between is not None:
                between()
            t1 = time.perf_counter()
            rerun()
        except Exception as exc:  # noqa: BLE001 - keep completed passes
            print(f"re-pass failed (keeping completed): {exc!r}",
                  file=sys.stderr)
            if degraded is not None:
                degraded[name] = (
                    f"{len(passes)}/{1 + n_extra} passes: "
                    f"{type(exc).__name__}: {exc}"[:200]
                )
            break
        passes.append(time.perf_counter() - t1)
    if passes_out is not None:
        passes_out[name] = [round(p, 4) for p in passes]
    passes.sort()
    return passes[len(passes) // 2] if len(passes) % 2 else passes[
        len(passes) // 2 - 1
    ]


def group_of(name: str, headline: list[str]) -> str:
    """The gate group a per-query timing belongs to: headline queries
    feed ``value``, ``stream_*`` lifecycle queries feed
    ``streaming_total``, everything else is an extension."""
    if name in headline:
        return "value"
    if name.startswith("stream_"):
        return "streaming_total"
    return "extensions_total"


def comparable_history_entries(
    history_path: str,
    sf: float,
    min_passes: int = 3,
    max_passes: int = 6,
    cpus: int | None = None,
) -> list[dict] | None:
    """The most recent comparable history passes: same sf, SAME CORE
    COUNT (r14: the driver also runs the bench at a lower
    ``SPARK_GRAFT_CPUS`` to measure scaling — comparing a low-core
    pass against 32-core medians would flag every group of a clean
    low-core pass; lines written before the ``cpus`` stamp are treated
    as the historical 32-core default), not flagged ``contaminated``
    (the first pass of a retired r11-r15 gate retry — the history still
    holds 19 of them) or ``gate_deviant`` (a suspect pass, ADVICE r11 —
    letting those into the baseline would drag the acceptance medians
    upward and weaken the gate they feed), complete groups. Returns
    None when fewer than ``min_passes`` comparable passes exist — the
    gate then accepts unconditionally (nothing trustworthy to diff
    against)."""
    entries = []
    try:
        with open(history_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if (
                    e.get("sf") == sf
                    and (cpus is None or e.get("cpus", 32) == cpus)
                    and not e.get("contaminated")
                    and not e.get("gate_deviant")
                    and isinstance(e.get("value"), (int, float))
                    and isinstance(e.get("streaming_total"), (int, float))
                    and e.get("queries")
                ):
                    entries.append(e)
    except OSError:
        return None
    entries = entries[-max_passes:]
    return entries if len(entries) >= min_passes else None


def _median(vals: list[float]) -> float:
    vals = sorted(vals)
    n = len(vals)
    return vals[n // 2] if n % 2 else (vals[n // 2 - 1] + vals[n // 2]) / 2


def per_query_history_medians(
    entries: list[dict], min_appearances: int = 2
) -> dict[str, float]:
    """Median timing per query name across the comparable history
    passes (a query contributes wherever it appears — the intersection
    with the current pass is taken later, per ADVICE r11: comparing raw
    group SUMS across rounds with different query sets guaranteed a
    spurious re-run whenever the catalog gained or lost a query). A
    name must appear in at least ``min_appearances`` passes to
    contribute (ADVICE r12: a 1-sample "median" from a single noisy
    historical pass dilutes the ratio pool in both directions —
    mirrors the ``min_common`` guard on the group side)."""
    by_name: dict[str, list[float]] = {}
    for e in entries:
        # an accepted line may still carry per-query readings flagged
        # untrusted (the lone->3x outlier stamp, or a deviant group on
        # a kept pass) — those values are known-contaminated and must
        # not inflate the medians future gates fire on (r13: one
        # load-burst pass stamped 25 outliers while every group median
        # held; feeding them back would legitimize the next burst)
        bad = set(e.get("untrusted_queries", []))
        for n, v in e.get("queries", {}).items():
            if n not in bad and isinstance(v, (int, float)) and v > 0:
                by_name.setdefault(n, []).append(v)
    return {
        n: _median(vs)
        for n, vs in by_name.items()
        if len(vs) >= min_appearances
    }


def per_query_outliers(
    cur_queries: dict,
    pq_medians: dict | None,
    threshold: float = 3.0,
) -> dict[str, float]:
    """Single-query contamination stamp (ADVICE r12): the group-median
    gate deliberately ignores lone spikes, so a 23.7 s reading inside
    an otherwise in-band group could still land as an unqualified
    latest reading. Any query whose current/history-median ratio
    exceeds ``threshold`` is returned (name -> ratio) for appending to
    ``untrusted_queries`` even when no group median trips."""
    if not pq_medians:
        return {}
    out = {}
    for n, v in cur_queries.items():
        base = pq_medians.get(n)
        if (
            base
            and isinstance(v, (int, float))
            and v > 0
            and v / base > threshold
        ):
            out[n] = round(v / base, 3)
    return out


def group_ratio_medians(
    cur_queries: dict,
    pq_medians: dict | None,
    headline: list[str],
    min_common: int = 3,
) -> dict:
    """Per-group MEDIAN of per-query ratios (current / history median)
    over the intersection of query names (ADVICE r11). Two properties
    the old sum-of-group-totals comparison lacked:

    - catalog drift immunity: a query added or removed since the last
      round simply drops out of the intersection instead of shifting
      the group total and tripping a guaranteed ~10-minute re-run;
    - outlier robustness: one contention-hypersensitive query (the r11
      exhibit: stream_rate_limited_backfill swinging 1.1 -> 19.9 s,
      1.6x-ing streaming_total on its own) cannot trip the group —
      a real contamination window slows the whole group together.

    Groups with fewer than ``min_common`` shared queries are skipped
    (no trustworthy signal)."""
    if not pq_medians:
        return {}
    ratios: dict[str, list[float]] = {}
    for n, v in cur_queries.items():
        base = pq_medians.get(n)
        if base and isinstance(v, (int, float)) and v > 0:
            ratios.setdefault(group_of(n, headline), []).append(v / base)
    return {
        g: round(_median(rs), 3)
        for g, rs in ratios.items()
        if len(rs) >= min_common
    }


def mark_untrusted(out: dict, kept_dev: dict, headline: list[str]) -> None:
    """Stamp a suspect pass (VERDICT r11 rec #2): the deviant groups
    land in ``accept.kept_deviations`` with their ratios, every query in
    them is listed under ``untrusted_queries`` in the detail/history
    records (so per-query diff tooling never treats them as clean
    latest readings), and ``gate_deviant`` keeps the history line out
    of future acceptance medians (ADVICE r11)."""
    out["accept"]["kept_deviations"] = kept_dev
    out["gate_deviant"] = True
    out["untrusted_groups"] = sorted(kept_dev)
    out["untrusted_queries"] = sorted(
        n for n in out["queries"] if group_of(n, headline) in kept_dev
    )


def gate_deviations(ratios: dict, threshold: float = 1.25) -> dict:
    """Groups whose per-query ratio median exceeds ``threshold`` (slow
    direction only — a faster-than-history pass is a better record, not
    a contaminated one). Returns {group: ratio}; empty dict = pass
    accepted. Pure so the gate is unit-testable."""
    return {g: r for g, r in ratios.items() if r > threshold}


def worst_ratio(ratios: dict) -> float:
    """Max group ratio median, recorded as ``accept.worst_ratio``."""
    return max(ratios.values()) if ratios else 0.0


def build_summary(
    out: dict,
    names: list[str],
    extras: list[str],
    detail_path: str,
) -> dict:
    """The short headline record that must end stdout: everything the
    official record needs, guaranteed to fit the driver's ~2000-byte
    stdout tail (metric/value/unit, the reference per-query times,
    streaming + extension totals, load-calibration probes, error
    count). Pure function so the size/shape contract is unit-testable
    without a Spark session."""
    per_query = out["queries"]
    extras_set = set(extras)
    return {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {n: per_query[n] for n in names if n in per_query},
        "streaming_total": out["streaming_total"],
        "extensions_total": round(
            sum(v for n, v in per_query.items() if n in extras_set), 4
        ),
        "n_queries_timed": len(per_query),
        "n_errors": len(out.get("errors", {})),
        # median-of-3 queries that fell back to fewer passes (per-query
        # reasons in the detail file's degraded_medians map)
        "n_degraded_medians": len(out.get("degraded_medians", {})),
        "calib_start_sec": out.get("calib_start_sec"),
        # mid-run probes (after headline / after extensions): a
        # contention window INSIDE the run is visible, not just at the
        # bracket (VERDICT r10 rec #1)
        "calib_mid_sec": out.get("calib_mid_sec"),
        "calib_end_sec": out.get("calib_end_sec"),
        "sf": out["sf"],
        "detail": detail_path,
        # streaming_total is a WARM median-of-3 since r9; r1-r8 were
        # cold single-pass (ADVICE r9 measurement-semantics note)
        "stream_timing": "warm_median3_since_r9",
        # machine-readable acceptance-gate record (r11): status +
        # ratios; a suspect pass names its deviant groups here
        "accept": out.get("accept"),
    }


def run_gate(
    out: dict,
    entries: list[dict] | None,
    names: list[str],
) -> dict:
    """The acceptance decision for one measured pass, as bookkeeping:
    compare each group against history, stamp deviant groups and
    per-query outliers untrusted, and leave every measured number as
    it is. Status is ``no_history``, ``ok`` or ``suspect``. Pure, so
    the exact code path the unattended official run takes is
    unit-testable. Stamps and returns ``out``."""
    pq_med = per_query_history_medians(entries) if entries else None
    ratios = group_ratio_medians(out["queries"], pq_med, names)
    dev = gate_deviations(ratios)
    if not entries:
        out["accept"] = {"status": "no_history"}
    else:
        out["accept"] = {
            "status": "suspect" if dev else "ok",
            "worst_ratio": round(worst_ratio(ratios), 3),
            # which groups the gate actually compared — a group with
            # fewer than min_common shared query names is SKIPPED, and
            # the record must say so rather than imply it was checked
            "groups_compared": sorted(ratios),
        }
        if dev:
            print(
                f"acceptance gate: suspect groups {dev} vs per-query "
                f"history medians ({len(entries)} passes)",
                file=sys.stderr,
            )
            mark_untrusted(out, dev, names)

    # per-query outlier stamp (ADVICE r12): a lone >3x spike inside an
    # in-band group is still flagged for per-query diff tooling
    if pq_med:
        outl = per_query_outliers(out["queries"], pq_med)
        if outl:
            # burst co-traveler rule (VERDICT r13 rec #1): one >3x
            # spike proves a contention window was live, so the
            # 2-3x band readings of the same pass are co-travelers,
            # not regressions — stamp them too (the r13 kept pass
            # carried 15 such readings unstamped, inflating
            # extensions_total to 561 s vs the 393-489 s clean band)
            outl = per_query_outliers(out["queries"], pq_med, threshold=2.0)
            out["accept"]["n_per_query_outliers"] = len(outl)
            out["per_query_outliers"] = outl
            out["untrusted_queries"] = sorted(
                set(out.get("untrusted_queries", [])) | set(outl)
            )
            # ADVICE r13 (low): flagged readings inside the HEADLINE
            # group still sum into the official value — say so at the
            # accept level instead of presenting the summary unqualified
            hl = sorted(n for n in outl if n in names)
            if hl:
                out["accept"]["headline_outliers"] = hl
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time the engine's queries.")
    ap.add_argument(
        "--only",
        nargs="+",
        metavar="NAME",
        help="time only these queries (median of 3 cache-isolated "
        "passes each) and print their passes; no gate, no records",
    )
    args = ap.parse_args(argv)
    queries = get_queries()
    unknown = sorted(set(args.only or ()) - set(queries))
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # the driver also benches at a lower core count (scaling probe);
    # records carry it and the gate only compares same-cpus passes
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    calib_start = load_calibration()
    spark = get_spark(app_name="bench")
    names = [n for n in HEADLINE if n in queries]
    # extension operators registered beyond the reference surface.
    # Excluded from the timed pass:
    # - stream_daily_rollup: drives a real Structured Streaming query
    #   (checkpoint + memory-sink lifecycle, not a scan benchmark);
    # - the all-PAIRS near-dup reports (MinHash bands, n-gram Jaccard,
    #   prefix-filter exact join): their OUTPUT is quadratic in
    #   dup-cluster size (a 1.5k-doc identical cluster alone emits ~1.1M
    #   pairs at sf0.1), so wall-clock measures result materialization,
    #   not the operator. dedup_minhash_assign benchmarks the same
    #   MinHash+LSH pipeline with the linear keeper-assignment output.
    # - etl_violations_transform: the row-for-row echo collects the full
    #   fact table to the driver (600k rows × 13 cols at sf0.1) — it
    #   measures py4j result materialization, not the transform.
    #   etl_violations_checksum times the same transform with in-engine
    #   aggregate verification (constant-size output, the 100 TB shape).
    # Streaming-lifecycle queries (each drives a real Structured
    # Streaming query: checkpoint + sink lifecycle, not a scan/shuffle
    # benchmark) are timed DELIBERATELY as their own group — recorded in
    # the queries map and summed under "streaming_total", never in the
    # headline value (VERDICT r2 rec #8).
    streaming = sorted(n for n in queries if n.startswith("stream_"))
    extras = sorted(
        set(queries)
        - set(HEADLINE)
        - set(streaming)
        - {
            "dedup_minhash_lsh_pairs",
            "dedup_ngram_jaccard_pairs",
            "dedup_prefix_filter_pairs",
            "etl_violations_transform",
        }
    )

    # warm-up: session/code paths, parquet footer caches. Fault-isolated
    # like the timed loop (VERDICT r2 rec #2: one raising query must
    # never lose the whole run's JSON line).
    try:
        # warm the Python worker pool too (spark.python.worker.reuse
        # keeps it alive session-long, as on a long-running cluster):
        # without this the first Arrow-batched query pays ~5-30s of
        # daemon/fork/import cost that is startup, not operator time
        spark.createDataFrame([(1,)], "x int").mapInPandas(
            lambda it: (b[["x"]] for b in it), "x int"
        ).collect()
        # pre-stage the paged-API fixture (sorted, page-aligned row
        # groups): the staging build is a ONE-TIME server-side setup
        # analogue, not per-query source cost, and letting it land
        # inside the first paged query's timed window inflated
        # paged_api_pushdown_agg 2.6x on the r4 official record
        # (VERDICT r4 rec #2)
        from dc_moving_violations_cloud_etl_spark.sources.paged_api import (
            SOURCE_NAME,
            make_paged_events_source,
            paged_fixture_path,
        )

        staged = paged_fixture_path(sf_dir)
        # warm the PYTHON DATASOURCE path too (r14, measured): the
        # first Python-datasource query in a fresh session pays ~6.4 s
        # of one-time infra — the plan_data_source driver-side Python
        # runner fork + pyspark import, and the executor-side
        # datasource worker pool's own fork/import — on top of the
        # ~1.5 s steady-state query. Same startup class (and same
        # policy) as the mapInPandas worker-pool warmup above and the
        # staged-fixture build (VERDICT r4 rec #2): a long-running
        # cluster amortizes it; letting it land inside whichever paged
        # query runs first mismeasured that query ~7x (measurement
        # change recorded in OPTIMIZATION_r14.md with both readings).
        try:
            spark.dataSource.register(make_paged_events_source())
            spark.read.format(SOURCE_NAME).option("path", staged).load(
            ).select("event_id").write.format("noop").mode(
                "overwrite"
            ).save()
            # ... and the pushFilters PLANNING runner (a separate
            # Python runner interaction, measured ~2 s of one-time
            # fork/import on its first use): probe with a no-match
            # literal so the warm read itself is near-empty. Per-query
            # JVM codegen is deliberately NOT warmed — that cost class
            # stays in every extension query's timing, paged or not.
            # (filterPushdown is set at session build time, session.py —
            # re-asserting it here could mask a session-level change,
            # ADVICE r14.)
            assert (
                spark.conf.get("spark.sql.python.filterPushdown.enabled")
                == "true"
            ), "session must enable Python-source filter pushdown"
            spark.read.format(SOURCE_NAME).option("path", staged).load(
            ).where("event_type = '_bench_warmup_'").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - probe is best-effort
            # a dying datasource probe must not skip the flagship
            # warm-up below (the headline's steady-state guarantee)
            print(f"datasource warmup failed: {exc!r}", file=sys.stderr)
        # query warm-up LAST, immediately before the timed loop: two
        # passes of the flagship + one of its broadcast-join sibling so
        # slot 1 measures steady state, not residual codegen/broadcast
        # warm-up — q0 flapped 0.38<->0.80 s across rounds when a single
        # earlier warm-up pass left JIT compilation to the timed run
        # (VERDICT r5 rec #3)
        queries[names[0]](spark, sf_dir).collect()
        queries[names[0]](spark, sf_dir).collect()
        if "qd_rainy_day_tickets" in queries:
            queries["qd_rainy_day_tickets"](spark, sf_dir).collect()
    except Exception as exc:  # noqa: BLE001 - warmup is best-effort
        print(f"warmup failed: {exc!r}", file=sys.stderr)

    if args.only:
        out = measure(spark, queries, [], args.only, [], sf_dir,
                      heavy=frozenset(args.only))
    else:
        out = measure(spark, queries, names, extras, streaming, sf_dir)
    out["calib_start_sec"] = calib_start
    out["calib_end_sec"] = load_calibration()
    out["sf"] = sf
    out["cpus"] = cpus
    if args.only:
        # a subset pass is not comparable with a full one: it is never
        # gated and never enters the detail or history records
        for k in ("metric", "value", "unit", "streaming_total"):
            del out[k]
        print(json.dumps(out))
        return

    # ── acceptance gate (VERDICT r10 rec #1; r12: per-query ratio
    # medians over the history intersection, ADVICE r11; flag-only) ────
    here = os.path.dirname(os.path.abspath(__file__))
    history_path = os.path.join(here, "BENCH_DETAIL_history.jsonl")
    entries = comparable_history_entries(history_path, sf, cpus=cpus)
    out = run_gate(out, entries, names)
    write_records(out, names, extras, here, history_path)


def measure(
    spark,
    queries: dict,
    names: list[str],
    extras: list[str],
    streaming: list[str],
    sf_dir: str,
    heavy: frozenset[str] = HEAVY_EXTENSIONS,
) -> dict:
    """One measured pass over the three query groups, with a mid-run
    calibration probe after each non-empty group but the last
    (``calib_mid_sec``) so host contention INSIDE the ~10-minute run is
    sampled, not just bracketed (VERDICT r10 rec #1). Extension queries
    in ``heavy`` are timed as the median of three cache-isolated
    passes, every pass kept under ``heavy_passes``; ``--only`` passes
    its names here as the extension group. Queries whose timed call
    published a new ``scratch.staged`` dir are listed under
    ``staged_while_timed``: their reading includes writing the copy."""
    per_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    degraded: dict[str, str] = {}  # median-of-3 queries that fell back
    heavy_passes: dict[str, list] = {}  # per-pass readings, heavy group
    staged_while_timed: list[str] = []  # timed calls that wrote a copy
    total = 0.0
    streaming_total = 0.0
    calib_mid: list[float] = []
    ordered = [
        ("value", names),
        ("extensions_total", extras),
        ("streaming_total", streaming),
    ]
    measured = [(g, qs) for g, qs in ordered if qs]
    for gi, (_gname, group) in enumerate(measured):
        for name in group:
            markers = _staged_markers()
            t0 = time.perf_counter()
            try:
                queries[name](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                if name in names:
                    # headline queries: MEDIAN of THREE timed passes —
                    # the r6 record showed Qf/Qg/Qh drifting up
                    # 1.34-1.41x together with unchanged plans, i.e.
                    # session-load noise is the dominant term in a ~4 s
                    # headline (VERDICT r6 rec #3). min-of-2 still let
                    # one loaded pass pair with one quiet pass; the
                    # median of three discards BOTH the one-off spike
                    # and the one-off lucky pass, making the headline
                    # reproducible across rounds for ~8 s extra bench
                    # cost. Extension timings stay single-pass (they
                    # only feed an informational total); streaming
                    # timings are median-of-3 since r9 (below).
                    dt = median_of_completed(
                        dt,
                        lambda: queries[name](spark, sf_dir).collect(),
                        degraded=degraded,
                        name=name,
                    )
                    total += dt
                elif name in streaming:
                    # streaming lifecycle timings: ALSO median-of-3.
                    # Each drives a real micro-batch lifecycle
                    # (checkpoint dir + sink setup), whose wall time
                    # proved the single noisiest block on the official
                    # record — r7 +28% and r8 -39% with zero streaming
                    # code changes (VERDICT r7 rec #3 / r8 rec #4). The
                    # ~2x extra bench cost buys a streaming_total that
                    # moves with code, not with host load; residual
                    # session drift is visible in the calibration
                    # probes. NOTE: this median is WARM (pass 1 absorbs
                    # scratch-sweep/fixture one-time costs that passes
                    # 2-3 skip) — r1-r8 recorded cold single-pass
                    # streaming totals, so cross-era comparisons must
                    # carry that caveat (ADVICE r9).
                    dt = median_of_completed(
                        dt,
                        lambda: queries[name](spark, sf_dir).collect(),
                        degraded=degraded,
                        name=name,
                    )
                    streaming_total += dt
                elif name in heavy:
                    # heaviest extensions: median-of-3 since r15
                    # (VERDICT r14 rec #8) with per-pass cache
                    # isolation and per-pass readings recorded — see
                    # the HEAVY_EXTENSIONS comment for the rationale
                    # and the measurement-semantics declaration in
                    # OPTIMIZATION_r15.md
                    dt = median_of_completed(
                        dt,
                        lambda: queries[name](spark, sf_dir).collect(),
                        degraded=degraded,
                        name=name,
                        between=caching.release_tracked,
                        passes_out=heavy_passes,
                    )
                per_query[name] = round(dt, 4)
            except Exception as exc:  # noqa: BLE001 - record, keep going
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                if name not in names:
                    # per-query cache isolation for the extension
                    # operators: tracked sketch persists (MinHash
                    # signatures, IVF centroids, …) are one query's
                    # working set — left pinned they crowd execution
                    # memory for every later query (the in-bench vs
                    # solo gap measured in round 3: 21.6 s vs 3.1 s for
                    # tfidf). The shared fact/dim materializations
                    # (catalog._MATERIALIZED) stay cached. Runs in
                    # finally so a RAISING query cannot leave its
                    # persists pinned and contaminate every later
                    # timing (ADVICE r3).
                    caching.release_tracked()
                if _staged_markers() - markers:
                    staged_while_timed.append(name)
        if gi < len(measured) - 1:
            # mid-run probe at the group boundary (headline→extensions,
            # extensions→streaming): samples the middle of the run the
            # start/end bracket cannot see (VERDICT r10 rec #1)
            calib_mid.append(load_calibration())

    # cache-release hook: a bench run must end with no cached relations
    # (persisted fact/dim/sketch tables are session-local working set,
    # not process-lifetime state)
    try:
        catalog.release(spark)
        assert caching.tracked_count() == 0, "tracked persists survived"
    except Exception as exc:  # noqa: BLE001
        errors["_release"] = f"{type(exc).__name__}: {exc}"[:300]

    out = {
        "metric": "reference_surface_total_wallclock",
        "value": round(total, 4),
        "unit": "sec",
        "queries": per_query,
        "streaming_total": round(streaming_total, 4),
        "calib_mid_sec": calib_mid,
    }
    if errors:
        out["errors"] = errors
    if degraded:
        out["degraded_medians"] = degraded
    if heavy_passes:
        out["heavy_passes"] = heavy_passes
    if staged_while_timed:
        out["staged_while_timed"] = staged_while_timed
    return out


def _staged_markers() -> set[str]:
    """The ``scratch.staged`` dirs published so far: a query whose timed
    call adds one paid for writing its fixture copy."""
    return set(glob.glob(os.path.join(scratch.ROOT, "*", scratch.MARKER)))


def write_records(
    out: dict,
    names: list[str],
    extras: list[str],
    here: str,
    history_path: str,
) -> None:
    """Durable + stdout records for the measured pass.

    The driver keeps only the LAST ~2000 bytes of stdout; round 3's
    single big JSON line lost its head (the headline "value") to that
    truncation. Emit the full per-query record FIRST (and to a detail
    file), then end stdout with a SHORT headline line (< ~1.5 kB) that
    always survives the tail cut.

    The detail file lives IN THE REPO (next to bench.py) so the
    end-of-round snapshot commits it — /tmp copies died with the
    session, which made the r9 +20% extensions_total drift
    unattributable (VERDICT r9 rec #2). Every full pass — a suspect one
    too, flagged ``gate_deviant`` — appends one timestamped line to
    BENCH_DETAIL_history.jsonl so successive in-round runs never
    overwrite each other and the gate's future medians skip known-bad
    passes."""
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(here, "BENCH_DETAIL_latest.json"),
    )
    utc = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    stamped = dict(out)
    stamped["utc"] = utc
    try:
        with open(detail_path, "w") as f:
            json.dump(stamped, f, indent=1, sort_keys=True)
            f.write("\n")
        with open(history_path, "a") as f:
            f.write(json.dumps(stamped, sort_keys=True) + "\n")
    except OSError as exc:
        print(f"detail write failed: {exc!r}", file=sys.stderr)
    print(json.dumps(out))
    print(json.dumps(build_summary(out, names, extras, detail_path)))


if __name__ == "__main__":
    sys.exit(main())
