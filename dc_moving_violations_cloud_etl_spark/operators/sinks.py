"""Idempotent sinks: the reference's primary-key upsert semantics on
Spark/Parquet.

The reference relies on MySQL for the one relational feature plain
Parquet lacks — PK-enforced writes:

- ``INSERT ... ON DUPLICATE KEY UPDATE`` (last-writer-wins upsert,
  reference etl/full_load/violation_etl_history.py:138-150,
  etl/daily_load/weather_etl_daily.py:196-204)
- ``INSERT IGNORE`` (first-writer-wins insert-if-absent,
  reference etl/daily_load/violation_etl_daily.py:288-306)

Both are re-expressed as pure DataFrame merge operators (no table format
required) plus a partitioned-parquet writer. Idempotency — the
reference's only stated correctness invariant ("trigger the same Lambda
twice → no duplicate PKs", reference DEPLOYMENT.md:244-250) — holds by
construction: merging the same batch twice is a fixpoint.

Scale posture:
- ``rows_to_insert`` (the kernel of ``insert_if_absent``) is a
  left-anti join on the PK, with no ``distinct`` on the table's keys (an
  anti-join's result does not depend on duplicates on the right). At
  100 TB this shuffles on the key unless the table is bucketed by PK.
  ``cli daily-load`` hands it only the table's months the batch can
  touch (``violation_id`` embeds its month, and ``month`` is the
  partition column), a planning-time partition prune, so a day reads
  the batch's months, not the table, as MySQL probes its PK index.
- ``upsert_last_writer_wins`` is an anti-join of the table against the
  batch's keys plus the batch — the shuffle partitions by PK only, and
  with daily batches the incoming side is tiny.
- Writes are append-only for ``INSERT IGNORE``: ``cli daily-load``
  appends only ``rows_to_insert`` to the ``month``-partitioned table
  (``write_partitioned(mode="append")``), one new file per touched
  month, so a day writes bytes in proportion to its batch, never to the
  table — the parquet analog of MySQL inserting only the new rows.
  Files accumulate at one per touched month per day; ``history-load``
  rewrites the table, which is the compaction step.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _keys_match(left: DataFrame, right: DataFrame, keys: Sequence[str]):
    """NULL-SAFE key-equality condition for the replay anti-joins: a
    plain ``=`` never matches NULL keys, so a NULL-keyed row would be
    re-appended on every replay — breaking the module's "merging the
    same batch twice is a fixpoint" invariant exactly where the data is
    dirtiest (r10 review). ``<=>`` is still an equi-join key for the
    planner (EqualNullSafe hash-joins like ``=``)."""
    cond = None
    for k in keys:
        eq = left[k].eqNullSafe(right[k])
        cond = eq if cond is None else (cond & eq)
    return cond


def rows_to_insert(existing: DataFrame, incoming: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The rows ``INSERT IGNORE`` adds: incoming rows whose key is absent
    from existing (first-writer-wins), intra-batch duplicates reduced to
    one deterministic representative. NULL keys match NULL keys
    (null-safe anti-join), so an append of this set is idempotent. The
    key side needs no ``distinct``: a left-anti join's result does not
    depend on duplicates on the right."""
    incoming = dedupe_by_key(incoming, keys)
    ex_keys = existing.select(*keys)
    return incoming.join(
        ex_keys, _keys_match(incoming, ex_keys, keys), "left_anti"
    )


def insert_if_absent(existing: DataFrame, incoming: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``INSERT IGNORE`` semantics as the whole resulting table: every
    existing row plus ``rows_to_insert``."""
    return existing.unionByName(rows_to_insert(existing, incoming, keys))


def _keep_one(df: DataFrame, keys: Sequence[str], rep: "F.Column", out_cols: Sequence[str]) -> DataFrame:
    """One row per key via a min/max-of-struct aggregate.

    This is the engine's MERGE kernel shape. Physical strategy (verified
    on the executed plan, r10): ``min(struct)`` is a **SortAggregate** —
    HashAggregateExec requires mutable fixed-width buffer types, so any
    string- or struct-buffered min/max falls back to sort-based
    aggregation (the same fallback plain ``min(string_col)`` takes;
    ``min_by`` is declarative with a struct buffer and lands in the same
    place). That is still the scalable MERGE plan at 100 TB:

    - the PARTIAL aggregate runs map-side, so duplicate keys co-located
      in a batch (the rerun/replay case) collapse before the shuffle;
    - each partition's sort is an UnsafeExternalSorter — spillable,
      never a global sort, and the only exchange is the key shuffle a
      MERGE needs anyway;
    - vs a ``row_number`` window, which needs the same Exchange+Sort but
      cannot partial-aggregate map-side, this halves pre-shuffle volume
      whenever replays duplicate keys within a batch.

    Memory posture: the per-partition sort is the widest memory profile
    on the sink surface (full 13-column rows). Partition sizing must
    keep sort runs spill-friendly — the 100x copy-blowup smoke OOM'd
    when ACCUMULATED caches from earlier queries pinned the storage pool
    (tools/scale_smoke.py now releases materialized bases between
    queries), not from the sort itself.

    Struct comparison is field-ordered with NULL smallest, which
    matches ``ASC NULLS FIRST`` / ``DESC`` tiebreak semantics in the
    DuckDB oracle twins.
    """
    agg = df.groupBy(*keys).agg(rep.alias("_rep"))
    return agg.select(
        *[F.col(c) if c in keys else F.col(f"_rep.{c}").alias(c) for c in out_cols]
    )


def upsert_last_writer_wins(
    existing: DataFrame, incoming: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """``ON DUPLICATE KEY UPDATE`` semantics: incoming rows replace
    existing rows with the same key; new keys append.

    Implemented as the deduped incoming batch UNION the anti-joined
    existing table — the Spark-native MERGE for plain Parquet
    (SURVEY.md §4 O10). Precondition (held by construction for every
    table these sinks maintain, and by the reference's MySQL PK): the
    existing side is key-unique, so "drop the keys the batch replaces,
    append the batch" is exactly last-writer-wins. Idempotent for NULL
    key values too (null-safe anti-join).

    Scale: no sort and no wide shuffle of the table — with a small daily
    batch AQE broadcasts the incoming keys and the existing side is a
    pure scan+filter; a row_number-over-union MERGE would instead sort
    table+batch on the key (a whole-table shuffle at 100 TB).
    """
    incoming = dedupe_by_key(incoming, keys)
    in_keys = incoming.select(*keys)
    kept = existing.join(
        in_keys, _keys_match(existing, in_keys, keys), "left_anti"
    )
    return kept.unionByName(incoming.select(*existing.columns))


def dedupe_by_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Deterministic intra-batch PK dedup: one row per key, chosen by the
    min of the full-row struct (unlike ``dropDuplicates``, which keeps an
    arbitrary first-seen row and is therefore not oracle-comparable)."""
    others = [c for c in df.columns if c not in keys]
    if not others:
        return df.distinct()
    return _keep_one(df, keys, F.min(F.struct(*others)), list(df.columns))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "month",
    mode: str = "overwrite",
) -> None:
    """Partitioned-parquet table layout (the engine analog of the
    reference's month→MapServer-layer routing table,
    reference etl/daily_load/violation_etl_daily.py:21-41): queries with
    a ``month`` predicate prune partitions at planning time. ``overwrite``
    replaces only the months present in ``df`` (dynamic partition
    overwrite); ``append`` adds files beside the existing ones."""
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def merge_matrix(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    delete_cond: "F.Column",
    update_cols: dict[str, "F.Column"],
) -> DataFrame:
    """Full MERGE semantics on plain DataFrames — the three-way matrix
    the simpler sinks don't cover:

    - WHEN MATCHED AND ``delete_cond``      → row removed
    - WHEN MATCHED (else)                   → ``update_cols`` applied
    - WHEN NOT MATCHED (source-only key)    → row inserted
    - target-only key                       → row carried unchanged

    (Spark SQL's MERGE INTO statement requires a v2 table; this is the
    DataFrame re-expression for parquet-backed state, generalizing
    ``upsert_last_writer_wins``/``insert_if_absent`` exactly the way
    ``ON DUPLICATE KEY UPDATE``/``INSERT IGNORE`` generalize to ANSI
    MERGE.) Preconditions: both sides key-unique with NON-NULL keys
    (the sinks' standing PK invariant — the matched/source-only tests
    read key nullness as row presence). ``update_cols``/``delete_cond`` reference the joined
    row via ``t.<col>`` / ``s.<col>`` aliases; a ``delete_cond`` that
    evaluates to NULL counts as NOT satisfied (ANSI MERGE), so the row
    takes the update branch.

    Scale posture: ONE full-outer shuffle join on the key — the same
    cost envelope as any MERGE at 100 TB; with a small CDC batch AQE
    degrades it to a broadcast-side outer join, and a bucketed target
    co-locates it entirely. The action column is plain codegen.
    An ``_action`` column ('carry'/'update'/'insert') is returned for
    auditability; callers that want the bare table drop it.
    """
    t = target.alias("t")
    s = source.alias("s")
    cond = None
    for k in keys:
        eq = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = eq if cond is None else (cond & eq)
    joined = t.join(s, cond, "full_outer")
    matched = F.col(f"t.{keys[0]}").isNotNull() & F.col(
        f"s.{keys[0]}"
    ).isNotNull()
    src_only = F.col(f"t.{keys[0]}").isNull()
    out_cols = []
    for c in target.columns:
        if c in keys:
            out_cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
        else:
            upd = update_cols.get(c, F.col(f"t.{c}"))
            ins = F.col(f"s.{c}") if c in source.columns else F.lit(None)
            out_cols.append(
                F.when(matched, upd)
                .when(src_only, ins)
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
            )
    action = (
        F.when(matched, F.lit("update"))
        .when(src_only, F.lit("insert"))
        .otherwise(F.lit("carry"))
        .alias("_action")
    )
    # ANSI MERGE: a WHEN MATCHED AND <cond> branch is taken only when
    # the condition is TRUE — a NULL condition means NOT deleted (the
    # row takes the update branch). Without the coalesce, three-valued
    # logic silently DELETED matched rows whose delete_cond evaluated
    # to NULL: matched & NULL = NULL, ~NULL = NULL, where(NULL) drops
    # the row (r10 review).
    delete = matched & F.coalesce(delete_cond, F.lit(False))
    return joined.where(~delete).select(*out_cols, action)
