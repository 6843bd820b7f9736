"""Benchmark entry point.

    python3 perfbench/run.py --workload reference_serve --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The first run in a checkout generates the
input tables and the expected results under ``.bench_build/perfbench``;
later runs reuse them. Each run then sets the workload up several times
on a fresh ``local[<cores>]`` session (``setup_s`` is the median), warms
the operation path once, runs its closed loop for ``--seconds``, checks
every output, and prints a human-readable table followed by one JSON
line:

- ``--trace 0``: the end-to-end metrics (``BENCHMARK.json``);
- ``--trace 1``: the per-layer metrics, from spans taken around the calls
  into each layer, job groups and Spark's local event log. The spans are
  written to ``.bench_build/perfbench/trace-<workload>-<seed>.jsonl``.

Every file the run writes stays under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")

# Setting the workload up this many times gives setup_s a median.
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.materialize_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.plan_ms": "ms",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.one_task_stages": "count",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "queries.result_rows": "count",
    "incremental.watermark_s": "s",
    "sinks.merge_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written_per_day": "bytes",
    "sinks.files_rewritten_per_day": "count",
    "sinks.write_amplification": "ratio",
    "host.probe_s": "s",
    "host.loadavg": "load",
    "trace.overhead_pct": "%",
}


def host_probe(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a CPU-speed calibration."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def _descendants() -> set[int]:
    """Pids of every live descendant of this process (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait for each to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    pids = _descendants()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _configure_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "sql-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "sql-warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )


def _median_by_kind(ops, key: str) -> float:
    """Sum over operation kinds of the median of ``key`` over the kind's
    first ``MIN_TRACED`` traced operations (0 if the layer never ran)."""
    from stats import sum_of_medians
    from workloads import MIN_TRACED

    by_kind: dict[str, list[float]] = {}
    for op in ops:
        if op.traced and key in op.layers:
            vals = by_kind.setdefault(op.kind, [])
            if len(vals) < MIN_TRACED:
                vals.append(op.layers[key])
    return sum_of_medians(by_kind) if by_kind else 0.0


def end_to_end(ops, setups: list[float], elapsed: float) -> dict[str, float]:
    from stats import median, sum_of_medians

    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.latency_s)
    return {
        "setup_s": median(setups),
        "round_s": sum_of_medians(by_kind),
        "ops_per_s": len(ops) / elapsed,
    }


def per_layer(wl, ops, setup_layers, probes, log_dir) -> dict[str, float]:
    from stats import median, sum_of_medians
    from tracing import EventLog

    traced = [op for op in ops if op.traced]
    events = EventLog(log_dir, wl.build_end_ms)
    for op in traced:
        g = events.groups.get(op.group)
        if g is None:
            continue
        for k in ("jobs", "build_jobs", "stages", "one_task_stages", "tasks",
                  "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes"):
            op.layers[f"queries.{k}"] = getattr(g, k)
    out = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        if name.startswith(("queries.", "incremental.", "sinks.")):
            out[name] = _median_by_kind(traced, name)
    for name in ("session.start_s", "catalog.materialize_s"):
        out[name] = median([s[name] for s in setup_layers])
    out["host.probe_s"] = median(probes)
    out["host.loadavg"] = os.getloadavg()[0]

    def round_of(flag):
        by_kind: dict[str, list[float]] = {}
        for op in ops:
            if op.traced == flag:
                by_kind.setdefault(op.kind, []).append(op.latency_s)
        return sum_of_medians(by_kind)

    out["trace.overhead_pct"] = 100.0 * (round_of(True) / round_of(False) - 1)
    return out


def run(args) -> dict:
    import expected
    import tracing
    import workloads
    from dc_moving_violations_cloud_etl_spark.session import get_spark

    cls = workloads.WORKLOADS[args.workload]
    record = expected.ensure_built(BUILD, workloads.REFERENCE_QUERIES)
    sf_dir = os.path.join(BUILD, "data")
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    _configure_env(work)
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    log_dir = os.path.join(work, "eventlog")
    conf = tracing.event_log_conf(log_dir) if args.trace else {}
    wl = cls(sf_dir, work, random.Random(args.seed), record, tracer, args.trace)

    probes = [host_probe()]
    setups, setup_layers = [], []
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                wl.teardown(spark)
                spark.stop()
            with tracer.span("setup", index=i):
                t0 = time.perf_counter()
                with tracer.span("session.start"):
                    spark = get_spark(app_name="perfbench", extra_conf=conf)
                layers = {"session.start_s": time.perf_counter() - t0}
                layers.update(wl.setup(spark))
                setups.append(time.perf_counter() - t0)
                setup_layers.append(layers)
        with tracer.span("warmup"):
            t0 = time.perf_counter()
            wl.warmup(spark)
            warmup_s = time.perf_counter() - t0
        with tracer.span("measure"):
            elapsed = wl.measure(spark, args.seconds)
        wl.teardown(spark)
        stop_jvm()
        probes.append(host_probe())
        # the replay is checked and counted, but is not a measured operation
        ops = [op for op in wl.ops if op.kind != "replay"]
        per_layer_out = (
            per_layer(wl, ops, setup_layers, probes, log_dir)
            if args.trace else None
        )
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not op.ok for op in wl.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(wl.ops),
        "failed": failed,
        "end_to_end": end_to_end(ops, setups, elapsed),
        "ops": wl.ops,
        "probes": probes,
        "setups": setups,
        "warmup_s": warmup_s,
    }
    if args.trace:
        result["per_layer"] = per_layer_out
        result["self_times"] = tracer.self_times()
        tracer.write(os.path.join(
            BUILD, f"trace-{args.workload}-{args.seed}.jsonl"
        ))
    return result


def report(args, result) -> None:
    """Human-readable lines, then the JSON line (last line of stdout)."""
    from stats import (
        error_rate,
        highest_supported_percentile,
        median,
        supported_percentile,
    )

    ops = [op for op in result["ops"] if op.kind != "replay"]
    replay = [op for op in result["ops"] if op.kind == "replay"]
    e2e = result["end_to_end"]
    lat = [op.latency_s for op in ops]
    rate = error_rate(result["attempted"], result["failed"])
    print(f"workload {args.workload}  seed {args.seed}  "
          f"operations {len(ops)}  cores {os.environ['SPARK_GRAFT_CPUS']}  "
          f"setups {' '.join(f'{s:.2f}' for s in result['setups'])} s")
    rows = [("setup_s", e2e["setup_s"], "s"),
            ("warmup_s", result["warmup_s"], "s")]
    if args.workload == "reference_serve":
        rows += [("pass_s", e2e["round_s"], "s")]
        p90 = supported_percentile(lat, 90.0)
        rows += [("query_p90_s", math.nan if p90 is None else p90, "s")]
        rows += [("queries_per_s", e2e["ops_per_s"], "1/s")]
    else:
        rows += [("day_p50_s", median(lat), "s")]
        if replay:
            rows += [("replay_s", replay[0].latency_s, "s")]
    tail = highest_supported_percentile(lat)
    if tail is not None:
        rows += [(f"p{tail[0]:g}_s", tail[1], "s")]
    rows += [("error_rate", rate, "ratio"),
             ("host.probe_s", median(result["probes"]), "s")]
    for name, value, unit in rows:
        print(f"  {name:<16} {value:>12.4f} {unit}")
    if args.trace:
        print("  per-layer:")
        for name, value in result["per_layer"].items():
            print(f"    {name:<32} {value:>14.4f} {PER_LAYER[name]}")
        print("  span self time (s):")
        for name, value in sorted(result["self_times"].items()):
            print(f"    {name:<32} {value:>14.4f}")
    metrics = result["per_layer"] if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import dc_moving_violations_cloud_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    report(args, run(args))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
