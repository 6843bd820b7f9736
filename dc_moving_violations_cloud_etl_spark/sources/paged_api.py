"""Custom Python DataSource (Spark 4 API): the reference's paginated
count-then-page API scan as a REAL Spark source.

The reference fetches ArcGIS features with a row-count probe followed by
``resultOffset``/``resultRecordCount`` pages of 2000, sequentially in
one Python process (reference etl/full_load/violation_etl_history.py:
73-124, CHUNK at :41). This source reproduces that protocol inside
Spark's source API instead:

- ``partitions()`` is the count-then-page planner: one ``InputPartition``
  per page-sized key-range FETCH, planned from the file's row-group
  layout (footer stats), so Spark schedules every page fetch as a
  parallel task instead of the reference's sequential loop; the
  oracle-visible logical page (``page_id = event_id // pageSize``) is
  stamped per row inside the fetch;
- ``read(partition)`` "fetches" one page — here by slicing the parquet
  fixture by key range via pyarrow (deterministic stand-in for the HTTP
  GET; a live connector would issue the request and parse JSON right
  here, per task, with per-page fault isolation exactly like the
  reference's try/except-per-day);
- rows are yielded as Arrow batches, so the Python→JVM hop is columnar.

Everything is defined inside a factory function so cloudpickle ships the
classes BY VALUE — executors of a caller-supplied vanilla session don't
have this package on their PYTHONPATH (same pattern as the stateful
sessionizer, streaming/stateful.py).
"""

from __future__ import annotations

SOURCE_NAME = "paged_events_api"
DEFAULT_PAGE_SIZE = 2000


def make_paged_events_source():
    """Build (by value) the DataSource class for registration via
    ``spark.dataSource.register``."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    source_name = SOURCE_NAME
    default_page_size = DEFAULT_PAGE_SIZE

    class _PagePartition(InputPartition):
        """One page FETCH (a physical key-range slice). Logical page
        identity (the oracle-visible ``page_id = event_id // pageSize``)
        is computed per ROW in ``read()`` — a fetch that spans several
        2000-key buckets, or a key layout with gaps, must not relabel
        the rows it happens to carry (r10 review: deriving page_id from
        the partition's lo broke the identity on gapped layouts)."""

        def __init__(self, lo: int, hi: int):
            self.lo, self.hi = lo, hi

    from pyspark.sql.datasource import EqualTo

    class _PagedEventsReader(DataSourceReader):
        def __init__(self, options):
            self.path = options["path"]
            self.page_size = int(
                options.get("pageSize", str(default_page_size))
            )
            self.pushed_eq: list = []  # (column, value) handled source-side

        def pushFilters(self, filters):
            """SERVER-SIDE predicate pushdown — the Spark-native form of
            the reference's ``where=ISSUE_DATE >= .. AND < ..`` request
            parameter (reference violation_etl_daily.py:168, SURVEY.md
            §2.A2/O1): equality filters on PHYSICAL scalar columns are
            absorbed into the page fetch itself (a live connector
            splices them into the API query string); everything else
            stays with Spark. Per the contract, absorbed filters are
            NOT yielded back. The absorb set is whitelisted to columns
            the backing file actually has — page_id and ts_us are
            COMPUTED by read(), so absorbing an equality on them would
            hand pyarrow a FieldRef it cannot resolve and fail every
            task (r10 review); those filters yield back to Spark."""
            pushable = {"event_id", "user_id", "event_type", "value"}
            for f in filters:
                if (
                    isinstance(f, EqualTo)
                    and len(f.attribute) == 1
                    and f.attribute[0] in pushable
                    and isinstance(f.value, (str, int, float))
                ):
                    self.pushed_eq.append((f.attribute[0], f.value))
                else:
                    yield f

        def partitions(self):
            # count probe (the reference's returnCountOnly request):
            # parquet footer statistics give the key layout without a
            # data scan. The column index is resolved BY NAME from the
            # file schema — the fixture's physical layout has drifted
            # between rounds, and a hard-coded index would silently
            # yield an empty page plan that drops every row after a
            # column reorder (ADVICE r3).
            #
            # Page FETCH planning follows the SERVER's storage layout,
            # the way a real resultOffset endpoint serves row-offset
            # pages from its own key-ordered storage: when the file's
            # row groups are key-sorted (paged_fixture_path always
            # stages them so), small consecutive row groups are
            # coalesced up to >= pageSize ROWS, and a COARSE row group
            # (rows > pageSize — e.g. the raw fixture's single 100k-row
            # group) is SPLIT into ceil(rows/pageSize) equal-width key
            # slices of its own span, so parallelism tracks the data in
            # both directions (r10 review: the first layout planner only
            # coalesced, collapsing a coarse-group file to one task).
            # Either way the plan size is proportional to actual rows.
            # Planning fixed-width key ranges over [0, max_id] (the
            # pre-r10 scheme) explodes on sparse key domains: the 100x
            # scale harness offsets copy ids by 2^33, which planned
            # ~10^8 near-empty pages and OOM'd the JVM deserializing
            # the pickled partition list. Partitions carry only the
            # fetch's key range; the oracle-visible page_id is computed
            # per row in read().
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(self.path)
            md = pf.metadata
            try:
                idx = pf.schema_arrow.names.index("event_id")
            except ValueError as exc:
                raise ValueError(
                    f"paged source requires an event_id column; file has "
                    f"{pf.schema_arrow.names}"
                ) from exc
            spans = []  # (min, max, n_rows) per row group, file order
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                col = rgm.column(idx)
                if col.statistics is None or not col.statistics.has_min_max:
                    spans = None
                    break
                spans.append(
                    (
                        int(col.statistics.min),
                        int(col.statistics.max),
                        rgm.num_rows,
                    )
                )
            sorted_layout = spans is not None and all(
                spans[i][0] <= spans[i + 1][0]
                and spans[i][1] <= spans[i + 1][1]
                for i in range(len(spans) - 1)
            )
            if sorted_layout and spans:
                # key ranges tile the domain disjointly, and read()
                # fetches by key range file-wide, so a key straddling a
                # row-group boundary is still read exactly once (by
                # whichever page's range contains it). Empty ranges
                # (duplicate-heavy layouts can produce lo == hi) are
                # skipped rather than scheduled as no-op fetches.
                pages = []

                def emit(lo: int, hi: int) -> None:
                    if lo < hi:
                        pages.append(_PagePartition(lo, hi))

                def tile(lo: int, hi: int, k: int) -> None:
                    # split [lo, hi) into k equal-width key slices (a
                    # duplicate-heavy group yields uneven slices — the
                    # unavoidable limit of range-splitting; a single
                    # repeated key cannot be split at all)
                    width = max(1, -(-(hi - lo) // k))
                    s = lo
                    while s < hi:
                        emit(s, min(s + width, hi))
                        s += width

                start = 0  # first span of the pending coalesce run
                acc = 0
                for i, (g_lo, _, n_rows) in enumerate(spans):
                    nxt = (
                        spans[i + 1][0]
                        if i + 1 < len(spans)
                        else spans[i][1] + 1
                    )
                    if n_rows > self.page_size:
                        # coarse group: flush the pending run, then
                        # split this group's own span for parallelism
                        if acc:
                            emit(spans[start][0], g_lo)
                        tile(g_lo, nxt, -(-n_rows // self.page_size))
                        start, acc = i + 1, 0
                    else:
                        acc += n_rows
                        if acc >= self.page_size or i == len(spans) - 1:
                            emit(spans[start][0], nxt)
                            start, acc = i + 1, 0
                return pages
            # stats absent or file not key-sorted: fall back to fixed-
            # width key-range pages over [0, max], with a real max()
            # scan of the key column if the footer can't provide it
            max_id = max((s[1] for s in spans or []), default=0)
            if max_id == 0:
                t = pq.read_table(self.path, columns=["event_id"])
                mx = pc.max(t["event_id"]).as_py()
                max_id = max(max_id, int(mx) if mx is not None else 0)
            n_pages = max_id // self.page_size + 1
            if n_pages > 1_000_000:
                # a sparse key domain under fixed-width pages plans
                # millions of empty fetches and the pickled partition
                # list alone OOMs the JVM — fail with the diagnosis
                # instead (key-sorted layouts never take this path)
                raise ValueError(
                    f"paged source: key domain [0, {max_id}] at page "
                    f"size {self.page_size} plans {n_pages} pages; "
                    "rewrite the fixture key-sorted WITH footer "
                    "statistics (paged_fixture_path does both) so "
                    "pages can follow the storage layout — an already-"
                    "sorted file lands here when event_id column "
                    "statistics are absent"
                )
            return [
                _PagePartition(i * self.page_size, (i + 1) * self.page_size)
                for i in range(n_pages)
            ]

        def read(self, partition):
            # one "page fetch" per task: key-range slice of the fixture
            # (a live connector performs the HTTP GET + JSON parse here)
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(
                self.path,
                columns=["event_id", "ts", "user_id", "event_type", "value"],
                filters=[
                    ("event_id", ">=", partition.lo),
                    ("event_id", "<", partition.hi),
                    # filters absorbed by pushFilters — evaluated inside
                    # the "page fetch", before any row reaches Spark
                    *[("%s" % c, "=", v) for c, v in self.pushed_eq],
                ],
            )
            out = pa.table(
                {
                    "event_id": t["event_id"],
                    # epoch micros keeps the Arrow schema engine-neutral
                    # (timestamp tz-ness is normalized by the consumer)
                    "ts_us": pc.cast(
                        pc.cast(t["ts"], pa.timestamp("us")), pa.int64()
                    ),
                    "user_id": t["user_id"],
                    "event_type": t["event_type"],
                    "value": t["value"],
                    # logical page identity is a PER-ROW function of the
                    # key (the 2000-key bucket the row belongs to) —
                    # never the fetch partition's label: a coalesced or
                    # split fetch carries rows of several buckets, and a
                    # gapped key layout has buckets no fetch is named
                    # after. event_id is non-negative, so integer
                    # division == floor division.
                    "page_id": pc.divide(
                        pc.cast(t["event_id"], pa.int64()),
                        pa.scalar(self.page_size, pa.int64()),
                    ),
                }
            )
            yield from out.to_batches()

    class PagedEventsDataSource(DataSource):
        @classmethod
        def name(cls):
            return source_name

        def schema(self):
            return (
                "event_id long, ts_us long, user_id long, "
                "event_type string, value double, page_id long"
            )

        def reader(self, schema):
            return _PagedEventsReader(self.options)

    return PagedEventsDataSource


def paged_fixture_path(sf_dir: str) -> str:
    """Stage the events fixture as a SORTED, page-aligned parquet file
    (row groups of DEFAULT_PAGE_SIZE rows, ordered by event_id), once
    per fixture generation (``scratch.staged``).

    This models the server side of a paginated API honestly: a real
    endpoint serves ``resultOffset`` pages from its own key-ordered
    storage at constant per-page cost. The raw fixture is a single
    100k-row row group, so a naive per-page ``read_table(filters=...)``
    re-decodes the ENTIRE file once per page — O(pages x corpus), a
    simulation artifact with no real-world counterpart (measured 2x the
    whole query's wall-clock at sf0.1). With page-sized row groups the
    pyarrow filter prunes by footer stats and each page task decodes
    exactly the 1-2 row groups that intersect its key range.
    """
    import os

    import pyarrow.parquet as pq

    from ..catalog import fixture_path
    from ..scratch import staged

    def write(out: str) -> None:
        os.makedirs(out)
        t = pq.read_table(fixture_path(sf_dir, "events")).sort_by("event_id")
        pq.write_table(
            t, os.path.join(out, "events_sorted.parquet"),
            row_group_size=DEFAULT_PAGE_SIZE,
        )

    d = staged("pagedsrc", sf_dir, write)
    return os.path.join(d, "events_sorted.parquet")
