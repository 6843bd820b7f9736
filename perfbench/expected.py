"""Expected results: the correctness gate's reference values.

Each collected result is reduced to an order-insensitive canonical hash,
the rule of ``tests/conftest.py::_canon``: columns sorted by name, every
value rendered to a string (NULL and NaN as ``<NULL>``, floats by exact
``repr``, timestamps in ISO form), rows sorted. The expected hash of a
query is that of its DuckDB oracle twin (``get_oracles()``) on the
benchmark's tables. The daily-load checks use per-day violation counts
from the same oracle views.

Both are computed once per checkout into the build directory, keyed by
the generator source and the oracle SQL, so a change to either rebuilds.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import shutil
from collections.abc import Sequence

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))


def canon_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_hash(columns: Sequence[str], rows: Sequence[Sequence]) -> str:
    """sha256 of the canonical form of a result (row order ignored)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def _duckdb_hash(con, sql: str) -> str:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return canon_hash(cols, cur.fetchall())


DAY_COUNTS_SQL = """
SELECT strftime(violation_date, '%Y-%m-%d') AS d,
       count(*) AS n,
       count(DISTINCT violation_id) AS n_ids
FROM violations
GROUP BY 1
"""


def _build_key(queries: Sequence[str]) -> str:
    from dc_moving_violations_cloud_etl_spark.oracle import with_ref_views
    from dc_moving_violations_cloud_etl_spark.queries import get_oracles

    oracles = get_oracles()
    h = hashlib.sha256()
    for name in ("datagen.py", "expected.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    for q in sorted(queries):
        h.update(f"\0{q}\0{oracles[q]}".encode())
    h.update(with_ref_views(DAY_COUNTS_SQL).encode())
    return h.hexdigest()


def ensure_built(build_dir: str, queries: Sequence[str]) -> dict:
    """Generate the tables and expected results under ``build_dir`` unless
    an up-to-date build is there; return the expected-results record
    (``hashes``, ``day_counts``); the tables are in ``<build_dir>/data``."""
    key = _build_key(queries)
    record_path = os.path.join(build_dir, "expected.json")
    try:
        with open(record_path) as f:
            record = json.load(f)
        if record.get("key") == key:
            return record
    except (OSError, ValueError):
        pass

    import duckdb

    from dc_moving_violations_cloud_etl_spark.oracle import with_ref_views
    from dc_moving_violations_cloud_etl_spark.queries import get_oracles

    shutil.rmtree(build_dir, ignore_errors=True)
    data_dir = os.path.join(build_dir, "data")
    datagen.write_tables(data_dir)
    oracles = get_oracles()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{build_dir}/duckdb-tmp'")
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        hashes = {q: _duckdb_hash(con, oracles[q]) for q in queries}
        day_counts = {
            d: [n, n_ids]
            for d, n, n_ids in con.execute(
                with_ref_views(DAY_COUNTS_SQL)
            ).fetchall()
        }
    finally:
        con.close()
    record = {
        "key": key,
        "hashes": hashes,
        "day_counts": day_counts,
    }
    tmp = record_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, record_path)
    return record
