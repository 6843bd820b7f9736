"""The benchmark's workloads, each a closed loop driven by one client.

A workload sets itself up on a fresh session (``setup``), warms its
operation path once (``warmup``), then runs operations until a deadline
(``measure``). Every operation is timed and
its output checked; in a traced run every other pass (or day) is also
instrumented, so the traced and bare timings of one session give the
tracing overhead.

The engine is called only through its public entry points:
``session.get_spark``, ``catalog.*``, ``get_queries()[name]`` +
``collect()``, ``cli.main([...])``, ``caching.release_tracked`` and, for
the history set-up, the ``operators.sinks`` functions ``history-load``
uses.
"""

from __future__ import annotations

import bisect
import contextlib
import datetime as dt
import io
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import stats
from expected import canon_hash


# A traced run instruments every other operation and reads its per-layer
# figures from the first MIN_TRACED instrumented operations of each kind,
# so two traced runs on one seed measure the same operations.
MIN_TRACED = 3


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    traced: bool = False
    group: str | None = None
    layers: dict = field(default_factory=dict)


class Workload:
    """Shared state: the run's RNG, expected results, tracer and ops."""

    name = ""
    queries: tuple[str, ...] = ()

    def __init__(self, sf_dir, work_dir, rng, expected, tracer, trace):
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.rng = rng
        self.expected = expected
        self.tracer = tracer
        self.trace = trace
        self.ops: list[Op] = []
        # epoch ms at which each traced op's builder returned (EventLog)
        self.build_end_ms: dict[str, float] = {}
        self._gid = 0

    def _group(self, spark, traced: bool, kind: str) -> str | None:
        if not traced:
            return None
        self._gid += 1
        gid = f"op{self._gid}"
        spark.sparkContext.setJobGroup(gid, kind)
        return gid

    def _more(self, n: int, start: float, seconds: float) -> bool:
        """Whether the closed loop starts another pass or day."""
        if n == 0 or time.perf_counter() - start < seconds:
            return True
        return self.trace and n < 2 * MIN_TRACED

    def _bare(self, spark) -> None:
        if self.trace:
            spark.sparkContext.setJobGroup("bare", "untraced operation")

    def materialize(self, spark) -> None:
        """First action on ``violations`` and ``weather_daily``."""
        from dc_moving_violations_cloud_etl_spark import catalog

        catalog.violations(spark, self.sf_dir).count()
        catalog.weather_daily(spark, self.sf_dir).count()

    def teardown(self, spark) -> None:
        from dc_moving_violations_cloud_etl_spark import caching, catalog

        caching.release_tracked()
        catalog.release(spark)


REFERENCE_QUERIES = (
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
)


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning, from the query's
    ``QueryExecution`` phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


class ReferenceServe(Workload):
    """Passes over the 11 reference queries, in a seeded order per pass,
    over the session-persisted ``violations`` / ``weather_daily``."""

    name = "reference_serve"
    queries = REFERENCE_QUERIES

    def setup(self, spark) -> dict:
        with self.tracer.span("catalog.materialize"):
            t0 = time.perf_counter()
            self.materialize(spark)
            materialize_s = time.perf_counter() - t0
        return {"catalog.materialize_s": materialize_s}

    def warmup(self, spark) -> None:
        self._pass(spark, record=False, traced=False)

    def measure(self, spark, seconds: float) -> float:
        start = time.perf_counter()
        n = 0
        while self._more(n, start, seconds):
            self._pass(spark, record=True, traced=self.trace and n % 2 == 1)
            n += 1
        return time.perf_counter() - start

    def _pass(self, spark, record: bool, traced: bool) -> None:
        from dc_moving_violations_cloud_etl_spark import caching
        from dc_moving_violations_cloud_etl_spark.queries import get_queries

        builders = get_queries()
        order = list(self.queries)
        self.rng.shuffle(order)
        if not traced:
            self._bare(spark)
        for name in order:
            gid = self._group(spark, traced, name)
            with self.tracer.span("query", query=name, traced=traced):
                ok, layers = True, {}
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("queries.build"):
                        df = builders[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    if gid:
                        self.build_end_ms[gid] = time.time() * 1e3
                    with self.tracer.span("queries.exec"):
                        rows = df.collect()
                    t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - counted, run goes on
                    print(f"{name} failed: {exc!r}"[:500])
                    ok, t1, t2 = False, t0, time.perf_counter()
                caching.release_tracked()
            if ok:
                ok = canon_hash(df.columns, rows) == self.expected["hashes"][name]
                if not ok:
                    print(f"{name}: result differs from its oracle")
                if traced:
                    layers = {
                        "queries.build_s": t1 - t0,
                        "queries.exec_s": t2 - t1,
                        "queries.plan_ms": _plan_ms(df),
                        "queries.result_rows": len(rows),
                    }
            if record:
                self.ops.append(Op(name, t2 - t0, ok, traced, gid, layers))


_INSERTED = re.compile(r"\binserted=(-?\d+)\b")


class _DayCounts:
    """Cumulative source-row counts by violation day (from the oracle)."""

    def __init__(self, day_counts: dict[str, list[int]]):
        self.days = sorted(day_counts)
        self.cum = []
        n = 0
        for d in self.days:
            n += day_counts[d][0]
            self.cum.append(n)

    def through(self, day: dt.date) -> int:
        """Source rows dated on or before ``day``."""
        i = bisect.bisect_right(self.days, day.isoformat())
        return self.cum[i - 1] if i else 0


@contextlib.contextmanager
def _timed_calls(tracer, patches):
    """Wrap module functions in spans and accumulate their wall time in
    ``acc`` (name → seconds) while the block runs; restore on exit. The
    CLI imports these functions at call time, so it sees the wrappers."""
    acc: dict[str, float] = {}
    saved = []

    def wrap(fn, metric):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                with tracer.span(metric.removesuffix("_s")):
                    return fn(*a, **kw)
            finally:
                acc[metric] = acc.get(metric, 0.0) + time.perf_counter() - t0

        return wrapper

    for module, attr, metric in patches:
        fn = getattr(module, attr)
        saved.append((module, attr, fn))
        setattr(module, attr, wrap(fn, metric))
    try:
        yield acc
    finally:
        for module, attr, fn in saved:
            setattr(module, attr, fn)


class DailyLoad(Workload):
    """History written through a seeded cutoff day, then one
    ``daily-load`` per following day, ending with a replay of the last."""

    name = "daily_load"

    # The cutoff is drawn from one month, which leaves years of source
    # days after it. Each day rewrites the whole table, so the day costs
    # grow with the table: with a one-month range the table holds
    # 20-21% of the source rows whatever the seed.
    FIRST_CUTOFF = dt.date(1996, 6, 1)
    LAST_CUTOFF = dt.date(1996, 7, 1)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.counts = _DayCounts(self.expected["day_counts"])
        span = (self.LAST_CUTOFF - self.FIRST_CUTOFF).days
        self.cutoff = self.FIRST_CUTOFF + dt.timedelta(
            days=self.rng.randrange(span + 1)
        )
        self.warehouse = os.path.join(self.work_dir, "warehouse")
        self.table = os.path.join(self.warehouse, "violations")
        self.last_as_of: dt.date | None = None

    def setup(self, spark) -> dict:
        from pyspark.sql import functions as F

        from dc_moving_violations_cloud_etl_spark import catalog
        from dc_moving_violations_cloud_etl_spark.operators.sinks import (
            dedupe_by_key,
            write_partitioned,
        )

        shutil.rmtree(self.warehouse, ignore_errors=True)
        with self.tracer.span("catalog.materialize"):
            t0 = time.perf_counter()
            self.materialize(spark)
            materialize_s = time.perf_counter() - t0
        with self.tracer.span("history"):
            v = catalog.violations(spark, self.sf_dir).where(
                F.col("violation_date") <= F.lit(self.cutoff)
            )
            write_partitioned(
                dedupe_by_key(v, ["violation_id"]), self.table, "month"
            )
            w = dedupe_by_key(
                catalog.weather_daily(spark, self.sf_dir), ["weather_date"]
            )
            w.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.warehouse, "weather_daily")
            )
        self.last_as_of = self.cutoff + dt.timedelta(days=1)
        return {"catalog.materialize_s": materialize_s}

    def warmup(self, spark) -> None:
        # the first daily-load of a session runs ~1.5x slower (codegen)
        self._day(spark, self.last_as_of + dt.timedelta(days=1),
                  record=False, traced=False)

    def measure(self, spark, seconds: float) -> float:
        start = time.perf_counter()
        n = 0
        while self._more(n, start, seconds):
            self._day(spark, self.last_as_of + dt.timedelta(days=1),
                      record=True, traced=self.trace and n % 2 == 1)
            n += 1
        elapsed = time.perf_counter() - start
        self._replay_and_check(spark)
        return elapsed

    def _cli(self, as_of: dt.date) -> int | None:
        """One ``daily-load`` call; the ``inserted=`` count it prints."""
        from dc_moving_violations_cloud_etl_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli.main([
                "daily-load", "--sf-dir", self.sf_dir,
                "--warehouse", self.warehouse, "--as-of", as_of.isoformat(),
            ])
        m = _INSERTED.search(buf.getvalue())
        return int(m.group(1)) if m else None

    def _day(self, spark, as_of: dt.date, record: bool, traced: bool) -> None:
        from dc_moving_violations_cloud_etl_spark.operators import (
            incremental,
            sinks,
        )

        want = self.counts.through(as_of - dt.timedelta(days=1)) - \
            self.counts.through(self.last_as_of - dt.timedelta(days=1))
        gid = self._group(spark, traced, "daily-load")
        if not traced:
            self._bare(spark)
        patches = [
            (incremental, "get_watermark", "incremental.watermark_s"),
            (incremental, "incremental_merge", "sinks.merge_s"),
            (sinks, "upsert_last_writer_wins", "sinks.merge_s"),
            (sinks, "write_partitioned", "sinks.write_s"),
        ] if traced else []
        before = stats.snapshot(self.table) if traced else None
        with self.tracer.span("daily_load", as_of=as_of.isoformat()), \
                _timed_calls(self.tracer, patches) as acc:
            t0 = time.perf_counter()
            try:
                got = self._cli(as_of)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                print(f"daily-load --as-of {as_of} failed: {exc!r}"[:500])
                got = None
            latency = time.perf_counter() - t0
        ok = got == want
        if not ok:
            print(f"daily-load --as-of {as_of}: inserted={got}, expected {want}")
        self.last_as_of = as_of
        layers = {}
        if traced and ok and want > 0:
            after = stats.snapshot(self.table)
            nbytes, nfiles = stats.written_since(before, after)
            layers = {
                "queries.exec_s": latency,
                "incremental.watermark_s": acc.get("incremental.watermark_s", 0.0),
                "sinks.merge_s": acc.get("sinks.merge_s", 0.0),
                "sinks.write_s": acc.get("sinks.write_s", 0.0),
                "sinks.bytes_written_per_day": nbytes,
                "sinks.files_rewritten_per_day": nfiles,
                "sinks.write_amplification": stats.write_amplification(
                    nbytes, want,
                    self.counts.through(as_of - dt.timedelta(days=1)),
                    stats.table_bytes(after),
                ),
            }
        if record:
            self.ops.append(Op("daily-load", latency, ok, traced, gid, layers))

    def _replay_and_check(self, spark) -> None:
        """Replay the last day (must insert nothing), then check the table:
        rows = source rows through the last loaded day, all ids distinct."""
        from pyspark.sql import functions as F

        self._bare(spark)
        t0 = time.perf_counter()
        try:
            got = self._cli(self.last_as_of)
        except Exception as exc:  # noqa: BLE001
            print(f"replay failed: {exc!r}"[:500])
            got = None
        latency = time.perf_counter() - t0
        want_rows = self.counts.through(self.last_as_of - dt.timedelta(days=1))
        row = spark.read.parquet(self.table).agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("violation_id").alias("ids"),
        ).collect()[0]
        ok = got == 0 and row["n"] == want_rows and row["ids"] == row["n"]
        if not ok:
            print(
                f"replay/final check failed: replay inserted={got}, "
                f"rows={row['n']} ids={row['ids']} expected rows={want_rows}"
            )
        self.ops.append(Op("replay", latency, ok))


WORKLOADS = {w.name: w for w in (ReferenceServe, DailyLoad)}
