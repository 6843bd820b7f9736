"""The benchmark's arithmetic, kept free of Spark so it can be unit-tested
on its own (``python3 -m pytest perfbench``).

- ``sum_of_medians``: the round metric — each operation kind's median
  latency, summed over kinds (bench.py's headline definition).
- ``supported_percentile``: a percentile is reported only when at least
  ``min_beyond`` samples lie above it.
- ``error_rate``: failed or wrong operations over operations attempted.
- ``snapshot`` / ``written_since`` / ``write_amplification``: bytes a
  write path put on disk, found by walking a directory before and after.
- ``spread``: the inter-quartile range over the median, the steadiness
  figure a set of runs is judged by.
"""

from __future__ import annotations

import math
import os
import statistics
from collections.abc import Iterable, Mapping, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def sum_of_medians(samples: Mapping[str, Sequence[float]]) -> float:
    """Sum over operation kinds of each kind's median sample."""
    if not samples:
        raise ValueError("no operation kinds")
    return math.fsum(median(v) for v in samples.values())


def nearest_rank(values: Sequence[float], pct: float) -> tuple[float, int]:
    """Nearest-rank ``pct`` percentile and its 1-based rank."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile {pct} outside (0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1], rank


def supported_percentile(
    values: Sequence[float], pct: float, min_beyond: int = 10
) -> float | None:
    """The ``pct`` percentile, or None when fewer than ``min_beyond``
    samples lie beyond its rank (the tail is then not measured)."""
    if not values:
        return None
    value, rank = nearest_rank(values, pct)
    return value if len(values) - rank >= min_beyond else None


def highest_supported_percentile(
    values: Sequence[float],
    candidates: Iterable[float] = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0),
    min_beyond: int = 10,
) -> tuple[float, float] | None:
    """(pct, value) for the highest candidate percentile that has at
    least ``min_beyond`` samples beyond it, or None."""
    for pct in sorted(candidates, reverse=True):
        value = supported_percentile(values, pct, min_beyond)
        if value is not None:
            return pct, value
    return None


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


# A file's identity for change detection: size, mtime and inode. A
# rewrite that lands in a new file (Spark's committer renames fresh
# part files into place) changes the inode even when size and mtime
# happen to match.
FileKey = tuple[int, int, int]


def snapshot(root: str) -> dict[str, FileKey]:
    """Map each regular file under ``root`` (relative path) to its key."""
    out: dict[str, FileKey] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            out[os.path.relpath(path, root)] = (
                st.st_size, st.st_mtime_ns, st.st_ino
            )
    return out


def written_since(
    before: Mapping[str, FileKey],
    after: Mapping[str, FileKey],
    data_suffix: str = ".parquet",
) -> tuple[int, int]:
    """(bytes, files) of data files that are new or changed in ``after``.
    Only files ending in ``data_suffix`` count: markers and checksums
    are bookkeeping, not table data."""
    nbytes = nfiles = 0
    for path, key in after.items():
        if path.endswith(data_suffix) and before.get(path) != key:
            nbytes += key[0]
            nfiles += 1
    return nbytes, nfiles


def table_bytes(files: Mapping[str, FileKey], data_suffix: str = ".parquet") -> int:
    return sum(k[0] for p, k in files.items() if p.endswith(data_suffix))


def write_amplification(
    bytes_written: int, inserted_rows: int, table_rows: int, table_nbytes: int
) -> float:
    """Bytes written per byte of inserted rows, where an inserted row is
    charged the table's mean on-disk bytes per row."""
    if inserted_rows <= 0 or table_rows <= 0 or table_nbytes <= 0:
        raise ValueError("write amplification needs inserted rows and a table")
    return bytes_written / (inserted_rows * table_nbytes / table_rows)
