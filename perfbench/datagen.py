"""Deterministic input tables for the benchmark.

Writes the three base tables the benchmarked paths read — ``orders``,
``lineitem`` (together the ``violations`` fact) and ``events`` (the
``weather_daily`` profile) — with the schemas and value ranges of the
engine's fixtures, at a fifth of the sf0.1 row counts (sf0.02): 30k
orders, ~120k line items over 1995-01-02 .. 2001-11-04, 20k events over
January 2024. Each run sets its workload up three times and each set-up
materializes the fact table, so the fact's size sets most of a run's
fixed cost.

The tables are fixed: the generator always uses ``DATA_SEED``, so every
benchmark seed runs against the same rows and the expected results can
be computed once per checkout. What a benchmark ``--seed`` varies is the
day window and the operation order (see ``run.py``).

``(l_orderkey, l_linenumber)`` is unique by construction, so every
``violation_id`` is distinct and the daily-load row-count checks are
exact.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
N_ORDERS = 30_000
N_EVENTS = 20_000
TABLES = ("orders", "lineitem", "events")

_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def _days(start: dt.date, end: dt.date) -> int:
    return (end - start).days


def _midnights(rng, start: dt.date, n_days: int, size: int) -> pa.Array:
    """``size`` random midnights in ``[start, start + n_days]`` as
    timestamp[us] (no time zone, like the fixture)."""
    base = np.datetime64(start, "us")
    days = rng.integers(0, n_days + 1, size).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _cents(values: np.ndarray) -> np.ndarray:
    return np.round(values, 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)

    o_key = np.arange(N_ORDERS, dtype=np.int64)
    orders = pa.table(
        {
            "o_orderkey": o_key,
            "o_custkey": rng.integers(0, 15_000, N_ORDERS, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), N_ORDERS),
            "o_totalprice": _cents(rng.uniform(1_000.0, 500_000.0, N_ORDERS)),
            "o_orderdate": _midnights(
                rng, dt.date(1995, 1, 1),
                _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1)), N_ORDERS,
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }
    )

    # 1..7 lines per order, numbered 1..k: mean 4 → ~120k line items
    per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(per_order.sum())
    l_orderkey = np.repeat(o_key, per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = (np.arange(n_lines) - starts + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, 20_000, n_lines, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1_000, n_lines, dtype=np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": quantity,
            "l_extendedprice": _cents(
                quantity * rng.uniform(900.0, 2_100.0, n_lines)
            ),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_lines),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_lines),
            "l_shipdate": _midnights(
                rng, dt.date(1995, 1, 2),
                _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4)), n_lines,
            ),
        }
    )

    month_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, month_us, N_EVENTS))
    ts = np.datetime64(dt.date(2024, 1, 1), "us") + offsets.astype(
        "timedelta64[us]"
    )
    events = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1_500, N_EVENTS, dtype=np.int64),
            "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
            "value": _cents(rng.exponential(50.0, N_EVENTS)),
            "props": [
                f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)
            ],
        }
    )
    return {"orders": orders, "lineitem": lineitem, "events": events}


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """Write ``<name>.parquet`` for each table (one row group, snappy)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
