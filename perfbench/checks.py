"""Checks on the benchmark itself, each a series of ``run.py`` runs.

    python3 perfbench/checks.py steady --workload reference_serve --runs 10
    python3 perfbench/checks.py repeat --workload daily_load --seed 7

``steady`` runs seeds 1..N one after another and prints, for each
end-to-end metric, the median and the spread (inter-quartile range over
median) next to a third of the metric's bound in ``BENCHMARK.json``.

``repeat`` makes two traced runs on one seed. Their counts must be
identical. Each count is printed with both values, a count that differs
is never averaged, and the check exits 1.

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, spread  # noqa: E402

REPEAT_COUNTS = (
    "queries.jobs",
    "queries.stages",
    "queries.tasks",
    "sinks.bytes_written_per_day",
)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; its JSON result line."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=True,
    ).stdout.strip().splitlines()[-1]
    return json.loads(out)


def steady(args, bench: dict) -> int:
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        result = run_once(args.workload, seed, bench["run_seconds"], 0)
        if not result["correct"]:
            print(f"seed {seed}: incorrect result {result}")
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + "  ".join(
            f"{k}={m['value']:.4f}" for k, m in result["metrics"].items()),
            flush=True)
    for metric in bench["end_to_end"]:
        v = values[metric["name"]]
        print(f"{metric['name']:<12} median {median(v):.4f}  "
              f"spread {spread(v):.3f}  (bound {metric['bound']}, "
              f"a third {metric['bound'] / 3:.3f})")
    return 0


def repeat(args, bench: dict) -> int:
    first, second = (
        run_once(args.workload, args.seed, bench["run_seconds"], 1)["metrics"]
        for _ in range(2)
    )
    differ = False
    for name in REPEAT_COUNTS:
        a, b = first[name]["value"], second[name]["value"]
        differ |= a != b
        print(f"{name:<32} {a:>14} {b:>14}  {'DIFFERS' if a != b else 'same'}")
    return 1 if differ else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("check", choices=("steady", "repeat"))
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (steady if args.check == "steady" else repeat)(args, bench)


if __name__ == "__main__":
    raise SystemExit(main())
