"""Data-mining operator queries (round 4): co-occurrence graph triangle
census, market-basket lift, exact-arithmetic z-score outlier detection,
and sorted-neighborhood edit-distance dedup.

These are the classic "mining" shapes a warehouse layer adds on top of
the reference's flat GROUP-BY surface (sql/analysis_queries.sql:5-91):
graph statistics over an entity-co-occurrence projection, association
rules, statistical outlier flagging, and the Hernandez-Stolfo sorted-
neighborhood method for blocking-bounded near-dup detection.

Scale posture (the 100 TB lens):

* the co-occurrence graph is built per ``(k, day)`` key, so the pair
  generator is quadratic only within one key's daily user set (tens of
  users), never across the corpus; hub keys are naturally bounded by
  the day split. The triangle join runs on the EDGE table (already
  collapsed, orders of magnitude smaller than the fact table).
* basket lift aggregates to per-(user, week) baskets first — every
  later join touches basket-bounded tables.
* the z-score pass is two shuffles: one per-type moment aggregate
  (5 rows, broadcast back) and one final per-type count; all the
  arithmetic is integer cents and DECIMAL(38,0) cross-multiplication,
  exact in both engines (no float variance, ADVICE r3's rounded-avg
  trap does not apply).
* sorted-neighborhood dedup is the linear-cost alternative to the
  all-pairs report: one window sort per block key, each document
  compared to only the next W=5 neighbors — a 1.5k-document identical
  cluster emits 7.5k candidate pairs, not 1.1M.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import caching, catalog
from ..expressions import wide_product
from ..operators.text import normalized
from ..operators.width import parallelism, spread
from .registry import QuerySpec, register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.base(spark, sf_dir, "events")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.base(spark, sf_dir, "documents")


def _coclick_edges(
    spark: SparkSession,
    sf_dir: str,
    before: str | None = None,
    since: str | None = None,
) -> DataFrame:
    """Undirected user-user co-click edge list ``(u, v)`` with
    ``u < v``: two users are adjacent iff they clicked the same
    ``props.k`` item on the same day. Shared by the triangle census,
    PageRank, and incremental CC (which passes ``before``/``since`` day
    bounds to split the graph into a base and a delta). The
    per-``(k, day)`` pair generator is quadratic only within one key's
    daily clicker set (tens of users), never across the corpus; both
    the co-occurrence projection and the collapsed edge table are
    persisted because every caller reads them at least twice
    (self-join sides / per-iteration scans)."""
    ev = _events(spark, sf_dir).where(F.col("event_type") == "click")
    if before is not None:
        ev = ev.where(F.to_date("ts") < F.lit(before).cast("date"))
    if since is not None:
        ev = ev.where(F.to_date("ts") >= F.lit(since).cast("date"))
    uk = (
        ev.select(
            F.get_json_object("props", "$.k").try_cast("long").alias("k"),
            F.to_date("ts").alias("d"),
            "user_id",
        )
        .distinct()
    )
    # persisted: the co-occurrence projection feeds BOTH sides of the
    # pair self-join — without it the click filter + JSON extract +
    # DISTINCT pass over the fact table runs twice
    uk = caching.persist_tracked(uk)
    edges = (
        uk.alias("a")
        .join(uk.alias("b"), ["k", "d"])
        .where(F.col("a.user_id") < F.col("b.user_id"))
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    return caching.persist_tracked(edges)


# ---------------------------------------------------------------------------
# co-occurrence graph triangle census
# ---------------------------------------------------------------------------


def _triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project clicks into a user-user co-occurrence graph (two users
    are adjacent iff they clicked the same ``props.k`` item on the same
    day) and compute the global census: nodes, edges, wedges
    (length-2 paths), triangles.

    The edge list is persisted once (``caching.persist_tracked`` — it
    feeds the degree aggregate AND both sides of the triangle join) and
    every number is an exact integer. Triangles use the standard
    oriented edge-edge-edge join (u < v < w), which at cluster scale is
    two shuffle joins on the collapsed edge table, never on the fact
    table.
    """
    edges = _coclick_edges(spark, sf_dir)

    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    edge_count = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    triangles = (
        edges.alias("ab")
        .join(edges.alias("bc"), F.col("ab.v") == F.col("bc.u"))
        .join(
            edges.alias("ac"),
            (F.col("ac.u") == F.col("ab.u")) & (F.col("ac.v") == F.col("bc.v")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(edge_count)
        .crossJoin(triangles)
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


register(
    QuerySpec(
        "graph_triangle_census",
        _triangle_census,
        """
WITH uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
),
deg AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
  GROUP BY n
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT)
        FROM e ab
        JOIN e bc ON ab.v = bc.u
        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v) AS n_triangles
""",
        doc="user-user co-click graph (same item, same day) census: "
        "nodes/edges/wedges/triangles via the oriented u<v<w "
        "edge-edge-edge join on the collapsed edge table",
        tags=("extension", "graph", "mining"),
    )
)


# ---------------------------------------------------------------------------
# market-basket association lift between event types
# ---------------------------------------------------------------------------


def _basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over (user, ISO-week) baskets: for each
    unordered pair of event types, the co-occurrence count and whether
    the pair lifts above independence. The lift test
    ``P(a,b) > P(a)P(b)`` is cross-multiplied to exact integers
    (``n_both * n_baskets > n_a * n_b``) — no float division, so the
    DuckDB twin matches bit-for-bit. The cross-products are widened to
    DECIMAL(38,0) (HUGEINT in the twin) BEFORE multiplying: both factors
    are corpus-sized counts, so a 64-bit product silently overflows at
    ~1e10 baskets while the comparison must stay exact (same posture as
    events_zscore_outliers).
    """
    baskets = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("wk"),
            "event_type",
        )
        .distinct()
    )
    baskets = caching.persist_tracked(baskets)
    n_baskets = (
        baskets.select("user_id", "wk")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_single")
    )
    pairs = (
        baskets.alias("a")
        .join(baskets.alias("b"), ["user_id", "wk"])
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(singles.withColumnRenamed("n_single", "n_a")),
            F.col("type_a") == F.col("event_type"),
        )
        .drop("event_type")
        .join(
            F.broadcast(singles.withColumnRenamed("n_single", "n_b")),
            F.col("type_b") == F.col("event_type"),
        )
        .drop("event_type")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                wide_product(F.col("n_both"), F.col("n_baskets"))
                > wide_product(F.col("n_a"), F.col("n_b"))
            ).alias("positive_lift"),
        )
        .orderBy("type_a", "type_b")
    )


register(
    QuerySpec(
        "basket_type_lift",
        _basket_lift,
        """
WITH baskets AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
         event_type
  FROM events
),
nb AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT user_id, wk FROM baskets)
),
singles AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_single
  FROM baskets GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM baskets a
  JOIN baskets b ON a.user_id = b.user_id AND a.wk = b.wk
  WHERE a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b,
       sa.n_single AS n_a, sb.n_single AS n_b, p.n_both,
       CAST(p.n_both AS HUGEINT) * nb.n_baskets
         > CAST(sa.n_single AS HUGEINT) * sb.n_single
         AS positive_lift
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN nb
ORDER BY type_a, type_b
""",
        doc="association lift between event types over (user, week) "
        "baskets; independence test cross-multiplied to exact integers",
        tags=("extension", "mining", "basket"),
    )
)


# ---------------------------------------------------------------------------
# exact-arithmetic z-score outlier detection
# ---------------------------------------------------------------------------


def _zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type statistical outlier flagging (|z| > 2 against the
    population variance) computed WITHOUT floats: values are scaled to
    integer cents, and the z test is cross-multiplied to
    ``(n*x - s)^2 > 4 * (n*s2 - s^2)`` in DECIMAL(38,0) — both engines
    evaluate it exactly, sidestepping the rounded-decimal-avg precision
    trap (ADVICE r3 on Q17/Q22).

    Two shuffles: the 5-row moment aggregate (broadcast back over the
    fact table) and the final per-type rollup.
    """
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("xi"),
    )
    moments = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").alias("s"),
        F.sum(F.col("xi") * F.col("xi")).alias("s2"),
    )
    d38 = "decimal(38,0)"
    # widen BEFORE multiplying (like rhs below): n * xi in 64-bit
    # overflows at ~1e11 events x $1M values — ANSI mode throws, the
    # pre-ANSI behavior silently wrapped (r10 review)
    diff = (
        F.col("n").cast(d38) * F.col("xi").cast(d38) - F.col("s").cast(d38)
    )
    rhs = F.lit(4).cast(d38) * (
        F.col("n").cast(d38) * F.col("s2").cast(d38)
        - F.col("s").cast(d38) * F.col("s").cast(d38)
    )
    return (
        ev.join(F.broadcast(moments), "event_type")
        .withColumn("is_outlier", diff * diff > rhs)
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.sum(F.col("is_outlier").cast("long"))
            .cast("long")
            .alias("n_outliers"),
            F.max(F.when(F.col("is_outlier"), F.col("xi"))).alias(
                "max_outlier_cents"
            ),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "events_zscore_outliers",
        _zscore_outliers,
        """
WITH x AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS xi FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xi) AS BIGINT) AS s,
         CAST(sum(xi * xi) AS BIGINT) AS s2
  FROM x GROUP BY event_type
)
SELECT x.event_type,
       CAST(max(g.n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN
              (CAST(g.n AS HUGEINT) * x.xi - g.s)
                * (CAST(g.n AS HUGEINT) * x.xi - g.s)
              > 4 * (CAST(g.n AS HUGEINT) * g.s2
                     - CAST(g.s AS HUGEINT) * g.s)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(max(CASE WHEN
              (CAST(g.n AS HUGEINT) * x.xi - g.s)
                * (CAST(g.n AS HUGEINT) * x.xi - g.s)
              > 4 * (CAST(g.n AS HUGEINT) * g.s2
                     - CAST(g.s AS HUGEINT) * g.s)
            THEN x.xi END) AS BIGINT) AS max_outlier_cents
FROM x JOIN g USING (event_type)
GROUP BY x.event_type
ORDER BY event_type
""",
        doc="per-type |z|>2 outlier counts via integer-cents moments and "
        "DECIMAL(38,0)/HUGEINT cross-multiplied variance test — "
        "float-free, engine-exact",
        tags=("extension", "mining", "quality"),
    )
)


# ---------------------------------------------------------------------------
# sorted-neighborhood edit-distance dedup
# ---------------------------------------------------------------------------

_SNM_WINDOW = 5  # neighbors compared per document per block pass


def _sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hernandez-Stolfo sorted-neighborhood near-dup detection with a
    Levenshtein verifier: two blocking passes (32-char prefix key and
    32-char suffix key over the normalized text), each sorting its block
    and comparing every document to only its next ``W=5`` neighbors.

    Linear candidate volume by construction — an identical cluster of C
    documents yields ``W*C`` pairs, not ``C^2/2`` (the reason the
    all-pairs reports are excluded from bench.py). One window sort per
    pass; the Levenshtein verifier runs JVM-side
    (``F.levenshtein`` / DuckDB ``levenshtein``) on 200-char snips.

    ``n_blocks`` counts blocks that produced at least one candidate
    pair (multi-document blocks).
    """
    # null-text documents are dropped on BOTH engines (a NULL norm
    # would otherwise diverge: Spark counts the neighbor pair by bid,
    # DuckDB by snip) — the guard is a plain pushed isnotnull filter
    d = (
        _documents(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", normalized(F.col("text")).alias("norm"))
    )
    blocks = (
        d.select(
            F.lit("prefix").alias("kind"),
            F.expr("left(norm, 32)").alias("key"),
            "doc_id",
            F.substring("norm", 1, 200).alias("snip"),
        )
    ).unionAll(
        d.select(
            F.lit("suffix").alias("kind"),
            F.expr("right(norm, 32)").alias("key"),
            "doc_id",
            F.substring("norm", 1, 200).alias("snip"),
        )
    )
    win = Window.partitionBy("kind", "key").orderBy("doc_id")
    leads = blocks.select(
        "kind",
        "key",
        "snip",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", i).over(win).alias("bid"),
                    F.lead("snip", i).over(win).alias("bsnip"),
                )
                for i in range(1, _SNM_WINDOW + 1)
            ]
        ).alias("nbrs"),
    )
    pairs = (
        leads.select(
            "kind",
            "key",
            "snip",
            F.explode("nbrs").alias("nb"),
        )
        .where(F.col("nb.bid").isNotNull())
        .select(
            "kind",
            "key",
            F.levenshtein("snip", F.col("nb.bsnip")).alias("lev"),
        )
    )
    return (
        pairs.groupBy("kind")
        .agg(
            F.countDistinct("key").cast("long").alias("n_blocks"),
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
            F.sum((F.col("lev") <= 20).cast("long"))
            .cast("long")
            .alias("n_dup_pairs"),
            F.sum((F.col("lev") == 0).cast("long"))
            .cast("long")
            .alias("n_exact_pairs"),
        )
        .orderBy("kind")
    )


register(
    QuerySpec(
        "dedup_sorted_neighborhood",
        _sorted_neighborhood,
        r"""
WITH d AS (
  SELECT doc_id,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
  FROM documents
  WHERE text IS NOT NULL
),
b AS (
  SELECT 'prefix' AS kind, left(norm, 32) AS key, doc_id,
         substr(norm, 1, 200) AS snip
  FROM d
  UNION ALL
  SELECT 'suffix' AS kind, right(norm, 32) AS key, doc_id,
         substr(norm, 1, 200) AS snip
  FROM d
),
w AS (
  SELECT kind, key, snip,
         lead(snip, 1) OVER win AS s1,
         lead(snip, 2) OVER win AS s2,
         lead(snip, 3) OVER win AS s3,
         lead(snip, 4) OVER win AS s4,
         lead(snip, 5) OVER win AS s5
  FROM b
  WINDOW win AS (PARTITION BY kind, key ORDER BY doc_id)
),
p AS (
  SELECT kind, key, levenshtein(snip, s1) AS lev FROM w WHERE s1 IS NOT NULL
  UNION ALL
  SELECT kind, key, levenshtein(snip, s2) FROM w WHERE s2 IS NOT NULL
  UNION ALL
  SELECT kind, key, levenshtein(snip, s3) FROM w WHERE s3 IS NOT NULL
  UNION ALL
  SELECT kind, key, levenshtein(snip, s4) FROM w WHERE s4 IS NOT NULL
  UNION ALL
  SELECT kind, key, levenshtein(snip, s5) FROM w WHERE s5 IS NOT NULL
)
SELECT kind,
       CAST(count(DISTINCT key) AS BIGINT) AS n_blocks,
       CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       CAST(sum(CASE WHEN lev <= 20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_pairs,
       CAST(sum(CASE WHEN lev = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_pairs
FROM p
GROUP BY kind
ORDER BY kind
""",
        doc="sorted-neighborhood (Hernandez-Stolfo) near-dup detection: "
        "prefix+suffix 32-char blocking, W=5 neighbor window, "
        "Levenshtein<=20 verifier on 200-char snips — linear candidate "
        "volume vs the quadratic all-pairs report",
        tags=("extension", "dedup", "mining"),
    )
)


# ---------------------------------------------------------------------------
# distribution drift audit (integer-exact PSI-style bin comparison)
# ---------------------------------------------------------------------------


def _value_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data distribution-shift detection: split the corpus into
    an OLD and NEW half (by event_id midpoint — ingestion order), bin
    the value column (10-currency-unit cents bins), and flag bins whose
    share moved by more than 2 percentage points. The proportion test is
    cross-multiplied to exact integers
    (``50 * |n_new*N_old - n_old*N_new| > N_new*N_old``), so both
    engines agree bit-for-bit — no float shares.

    Shape: one 1-row midpoint aggregate broadcast over the fact scan,
    one per-bin aggregate (|bins| rows), one 1-row totals combine. The
    fact table is scanned once and never shuffled beyond the bin agg.
    """
    x = _events(spark, sf_dir).select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    mid = x.agg(
        # integer div, not double division: (min+max)/2.0 loses exact
        # integers past 2^53 and can disagree with the oracle's //2 by
        # several ids, misbinning the events between the two mids
        # (r10 review)
        F.expr("(min(event_id) + max(event_id)) div 2")
        .cast("long")
        .alias("mid")
    )
    binned = (
        x.crossJoin(F.broadcast(mid))
        .groupBy(F.expr("cents div 1000").alias("value_bin"))
        .agg(
            F.sum((F.col("event_id") < F.col("mid")).cast("long"))
            .cast("long")
            .alias("n_old"),
            F.sum((F.col("event_id") >= F.col("mid")).cast("long"))
            .cast("long")
            .alias("n_new"),
        )
    )
    totals = binned.agg(
        F.sum("n_old").cast("long").alias("t_old"),
        F.sum("n_new").cast("long").alias("t_new"),
    )
    return (
        binned.crossJoin(F.broadcast(totals))
        .select(
            "value_bin",
            "n_old",
            "n_new",
            (
                F.lit(50)
                * F.abs(
                    F.col("n_new") * F.col("t_old")
                    - F.col("n_old") * F.col("t_new")
                )
                > F.col("t_new") * F.col("t_old")
            ).alias("drift"),
        )
        .orderBy("value_bin")
    )


register(
    QuerySpec(
        "events_value_drift_audit",
        _value_drift_audit,
        """
WITH x AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
m AS (
  SELECT CAST((min(event_id) + max(event_id)) // 2 AS BIGINT) AS mid FROM x
),
b AS (
  SELECT cents // 1000 AS value_bin,
         CAST(sum(CASE WHEN event_id < m.mid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_old,
         CAST(sum(CASE WHEN event_id >= m.mid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new
  FROM x, m GROUP BY 1
),
t AS (
  SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
         CAST(sum(n_new) AS BIGINT) AS t_new
  FROM b
)
SELECT value_bin, n_old, n_new,
       50 * abs(n_new * t.t_old - n_old * t.t_new) > t.t_new * t.t_old
         AS drift
FROM b, t
ORDER BY value_bin
""",
        doc="distribution-shift audit: old/new halves by event_id "
        "midpoint, 10-unit value bins, 2-percentage-point share test "
        "cross-multiplied to exact integers",
        tags=("extension", "mining", "quality"),
    )
)


# ---------------------------------------------------------------------------
# exact correlation-direction audit (integer cross-multiplied covariance)
# ---------------------------------------------------------------------------


def _corr_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the event value co-move with the ``props.k`` attribute?
    The covariance NUMERATOR ``n*Σxy − Σx*Σy`` is computed in exact
    DECIMAL(38,0) arithmetic (HUGEINT in the twin): the per-row cents×k
    product already strains 64 bits, and ``n * Σxy`` blows past long at
    ~1e12 rows, so every product is widened BEFORE multiplying — the
    sign answers the direction question without ever dividing by a
    float stddev, and both engines agree exactly (same trap-avoidance
    as events_zscore_outliers). The reported magnitude is the exact
    value cast once to double (a >64-bit integer cannot ride a BIGINT
    output column)."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
        F.get_json_object("props", "$.k").try_cast("long").alias("y"),
    ).where(F.col("y").isNotNull())
    cov = (
        F.count(F.lit(1)).cast("decimal(19,0)")
        * F.sum(wide_product(F.col("x"), F.col("y")))
        - F.sum(F.col("x").cast("decimal(19,0)"))
        * F.sum(F.col("y").cast("decimal(19,0)"))
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            cov.cast("double").alias("cov_scaled"),
            (cov > 0).alias("corr_positive"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "events_value_k_corr_direction",
        _corr_direction,
        """
WITH x AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS x,
         TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS y
  FROM events
  WHERE TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) * sum(CAST(x AS HUGEINT) * y) - sum(x) * sum(y)
            AS DOUBLE) AS cov_scaled,
       count(*) * sum(CAST(x AS HUGEINT) * y) - sum(x) * sum(y) > 0
         AS corr_positive
FROM x
GROUP BY event_type
ORDER BY event_type
""",
        doc="correlation-direction audit: covariance numerator "
        "n*Sxy - Sx*Sy in exact HUGEINT/DECIMAL(38,0) arithmetic — "
        "sign without float stddev division",
        tags=("extension", "mining", "statistics"),
    )
)


# ---------------------------------------------------------------------------
# PageRank over the co-click graph (fixed-iteration power method)
# ---------------------------------------------------------------------------


_PR_ITERS = 3
_PR_DAMP = 0.85


def _pagerank_coclick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed power iterations, uniform init)
    over the undirected co-click user graph — the canonical iterative
    graph algorithm alongside ``dedup_components``'s connected
    components (SURVEY.md §2 extension surface; the reference's flat
    GROUP-BY layer, sql/analysis_queries.sql:5-91, has no graph ops).

    Iterative posture (the 100 TB lens): the directed edge list joined
    with out-degrees (``out``) is built once and persisted — each
    iteration is ONE shuffle join of the rank vector (|V| rows) against
    it plus ONE groupBy on the destination key; ``localCheckpoint``
    truncates lineage so the plan stays one-round deep (on a cluster:
    checkpoint to durable storage). On an undirected graph every node
    has degree >= 1, so there is no dangling-mass term, and the node
    count is the iterative algorithm's one legitimate driver scalar
    (constant size, read once, baked into the teleport constant — the
    same posture as connected components' convergence scalar,
    operators/dedup.py). The fixed iteration count keeps the query
    deterministic and oracle-twinnable (the DuckDB twin unrolls the
    same 3 rounds as CTEs); ranks are rounded to 8 decimals on both
    sides, and the per-node in-neighbour sums drift at most ~1e-15
    relative between engines (accumulation order), far inside the
    rounding quantum.
    """
    edges = _coclick_edges(spark, sf_dir)
    ranks = pagerank_undirected(edges, _PR_ITERS, _PR_DAMP)
    return ranks.select(
        F.col("node").alias("user_id"), F.round("r", 8).alias("pagerank")
    ).orderBy("user_id")


def pagerank_undirected(
    edges: DataFrame, n_iter: int = _PR_ITERS, damp: float = _PR_DAMP
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected ``(u, v)`` edge list
    → ``(node, r)``. The iteration core of ``graph_pagerank_coclick``,
    factored over a generic edge list so the algorithm is
    property-testable against a dense numpy power iteration
    (tests/test_graph_property.py) independent of the co-click edge
    construction — the same layering as ``components_from_edges``."""
    directed = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    out = caching.persist_tracked(directed.join(deg, "src"))
    n_nodes = deg.count()
    if n_nodes == 0:
        # empty edge list: the uniform init 1.0/n_nodes is a DRIVER-side
        # Python division — guard it and return the empty rank vector a
        # no-edges day legitimately produces, instead of ZeroDivisionError.
        # The node type is DERIVED from the caller's edge schema (string
        # ids are as legitimate as longs for a generic edge list): a
        # hardcoded 'node long' gave the empty branch a different schema
        # from the non-empty one (ADVICE r10).
        from pyspark.sql.types import DoubleType, StructField, StructType

        return edges.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("node", edges.schema["u"].dataType),
                    StructField("r", DoubleType()),
                ]
            ),
        )
    ranks = (
        out.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("r", F.lit(1.0 / n_nodes))
        .localCheckpoint()
    )
    for _ in range(n_iter):
        ranks = (
            out.join(ranks, out.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit((1.0 - damp) / n_nodes)
                    + F.lit(damp) * F.sum(F.col("r") / F.col("d"))
                ).alias("r")
            )
            .localCheckpoint()
        )
    return ranks


register(
    QuerySpec(
        "graph_pagerank_coclick",
        _pagerank_coclick,
        """
WITH uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
),
dir AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT src AS n, count(*) AS d FROM dir GROUP BY src),
nn AS (SELECT count(*) AS c FROM deg),
r0 AS (SELECT n AS node, 1.0 / (SELECT c FROM nn) AS r FROM deg),
r1 AS (SELECT dir.dst AS node,
              0.15 / (SELECT c FROM nn) + 0.85 * sum(r0.r / deg.d) AS r
       FROM dir JOIN r0 ON dir.src = r0.node JOIN deg ON dir.src = deg.n
       GROUP BY dir.dst),
r2 AS (SELECT dir.dst AS node,
              0.15 / (SELECT c FROM nn) + 0.85 * sum(r1.r / deg.d) AS r
       FROM dir JOIN r1 ON dir.src = r1.node JOIN deg ON dir.src = deg.n
       GROUP BY dir.dst),
r3 AS (SELECT dir.dst AS node,
              0.15 / (SELECT c FROM nn) + 0.85 * sum(r2.r / deg.d) AS r
       FROM dir JOIN r2 ON dir.src = r2.node JOIN deg ON dir.src = deg.n
       GROUP BY dir.dst)
SELECT node AS user_id, round(r, 8) AS pagerank FROM r3 ORDER BY user_id
""",
        doc="PageRank over the co-click user graph: damping 0.85, "
        "3 fixed power iterations unrolled as oracle CTEs; one "
        "join + one groupBy per round over the persisted "
        "edge-with-degree table",
        tags=("extension", "graph", "mining", "iterative"),
    )
)


# ---------------------------------------------------------------------------
# exact-arithmetic k-means over the embedding corpus (2 Lloyd rounds)
# ---------------------------------------------------------------------------


_KM_K = 8


def _kmeans_core(spark: SparkSession, sf_dir: str):
    """Shared exact-k-means core over the fixture embeddings: returns
    ``(q, a2)`` — the persisted quantized component table and the
    round-2 cluster assignment."""
    from .extensions import _emb

    return kmeans_assign(_emb(spark, sf_dir))


def kmeans_assign(emb: DataFrame):
    """Exact k-means over an ``(vec_id, embedding)`` DataFrame →
    ``(q, a2)``. Factored over a generic input so the algorithm is
    property-testable against a dense pure-Python reference
    (tests/test_graph_property.py) independent of the fixture.

    K-means (k=8, two Lloyd assignment rounds, first-k init) over the
    embedding corpus with EVERY step in cross-engine-exact arithmetic —
    the iterative-ML companion to PageRank and connected components.

    Float k-means is not oracle-twinnable: a near-tie distance that
    differs in the last ulp flips a cluster assignment and the discrete
    divergence cascades. So the query quantizes components to integer
    milli-units once (``round(x * 1000)`` — identical float→double
    promotion and half-away-from-zero rounding in both engines, the
    repo's integer-cents pattern), computes squared-L2 distances as
    exact BIGINT sums, breaks argmin ties by lowest cluster id
    (``row_number`` over ``(dist, cluster)``), and re-quantizes round-1
    centroids with round-half-up in integer space via
    ``floor((2·S + n) / (2·n))`` (double division of exact integers —
    bit-identical inputs and ops in both engines, avoiding the
    ``//``-semantics divergence on negatives).

    Scale posture: fully relational — the exploded ``(vec_id, pos, q)``
    table is persisted and read by all four passes; each assignment is
    one broadcast join against the k×dims centroid table (512 rows)
    followed by a (vec, cluster) partial-agg groupBy — linear passes
    over the corpus, no all-pairs, no driver-side math. At 100 TB the
    centroid table is still 512 rows; rounds add linear passes, exactly
    like a cluster k-means (MLlib does the same dance with float
    centroids).
    """
    q = caching.persist_tracked(
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            "pos",
            F.round(F.col("x").cast("double") * 1000, 0)
            .cast("long")
            .alias("q"),
        )
    )

    def assign(cent: DataFrame) -> DataFrame:
        # ONE shuffle per round: k is a constant, so the per-cluster
        # distances fold into k conditional sums under a single
        # groupBy(vec_id) (instead of groupBy(vec, cluster) + a second
        # argmin aggregation). array_position(array_min) takes the FIRST
        # minimum — the lowest-cluster-id tie-break the oracle's
        # ORDER BY dist, cluster row_number expresses; an empty
        # cluster's sum is NULL and both array_min and the oracle's
        # missing row skip it.
        term = (F.col("q") - F.col("c")) * (F.col("q") - F.col("c"))
        d = (
            q.join(F.broadcast(cent), "pos")
            .groupBy("vec_id")
            .agg(
                *[
                    F.sum(F.when(F.col("cluster") == i, term)).alias(
                        f"d{i}"
                    )
                    for i in range(_KM_K)
                ]
            )
        )
        arr = F.array(*[F.col(f"d{i}") for i in range(_KM_K)])
        return d.select(
            "vec_id",
            (F.array_position(arr, F.array_min(arr)) - 1)
            .cast("int")
            .alias("cluster"),
        )

    c0 = q.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").cast("int").alias("cluster"),
        "pos",
        F.col("q").alias("c"),
    )
    a1 = assign(c0)
    c1 = (
        q.join(F.broadcast(a1), "vec_id")
        .groupBy("cluster", "pos")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cluster",
            "pos",
            F.floor((2.0 * F.col("s") + F.col("n")) / (2.0 * F.col("n")))
            .cast("long")
            .alias("c"),
        )
    )
    a2 = assign(c1)
    return q, a2


def _kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster summary of the exact k-means (see ``_kmeans_core``)."""
    q, a2 = _kmeans_core(spark, sf_dir)
    return (
        q.groupBy("vec_id")
        .agg(F.sum("q").alias("vq"))
        .join(F.broadcast(a2), "vec_id")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("vq").cast("long").alias("sum_q_checksum"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


_KMEANS_CHAIN_SQL = """
WITH qt AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster, pos, q AS c
  FROM qt WHERE vec_id < 8
),
d1 AS (
  SELECT qt.vec_id, c0.cluster, sum((qt.q - c0.c) * (qt.q - c0.c)) AS dist
  FROM qt JOIN c0 USING (pos) GROUP BY qt.vec_id, c0.cluster
),
a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM d1
  ) WHERE rn = 1
),
c1 AS (
  SELECT a1.cluster, qt.pos,
         CAST(floor((2.0 * sum(qt.q) + count(*)) / (2.0 * count(*)))
              AS BIGINT) AS c
  FROM qt JOIN a1 USING (vec_id) GROUP BY a1.cluster, qt.pos
),
d2 AS (
  SELECT qt.vec_id, c1.cluster, sum((qt.q - c1.c) * (qt.q - c1.c)) AS dist
  FROM qt JOIN c1 USING (pos) GROUP BY qt.vec_id, c1.cluster
),
a2 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM d2
  ) WHERE rn = 1
)"""


register(
    QuerySpec(
        "embedding_kmeans_exact",
        _kmeans_exact,
        _KMEANS_CHAIN_SQL + """
, vq AS (SELECT vec_id, sum(q) AS vq FROM qt GROUP BY vec_id)
SELECT a2.cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(vq.vq) AS BIGINT) AS sum_q_checksum,
       CAST(min(a2.vec_id) AS BIGINT) AS min_vec_id
FROM a2 JOIN vq USING (vec_id)
GROUP BY a2.cluster ORDER BY a2.cluster
""",
        doc="exact-arithmetic k-means (k=8, 2 Lloyd rounds): integer "
        "milli-unit quantization, BIGINT squared-L2, lowest-id tie "
        "break, round-half-up centroid requantization — discrete "
        "assignments cannot diverge between engines",
        tags=("extension", "mining", "embedding", "iterative"),
    )
)


# ---------------------------------------------------------------------------
# greedy k-center seeding (farthest-point traversal) — diversity selection
# ---------------------------------------------------------------------------

_KC_K = 5


def _kc_quantized(emb: DataFrame) -> DataFrame:
    """``(vec_id, qe: array<long>)`` — embeddings quantized to integer
    milli-units (the repo's cross-engine-exact pattern; see
    ``kmeans_assign``), kept as in-row arrays so per-center distances
    are a single ``zip_with``+``aggregate`` fold, no explode needed."""
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000, 0).cast("long"),
        ).alias("qe"),
    )


def _kc_d2(center: list[int]) -> F.Column:
    """Exact BIGINT squared-L2 from the ``qe`` array to a literal
    center — JVM-side higher-order functions, no UDF."""
    lit_center = F.array(*[F.lit(int(c)) for c in center])
    return F.aggregate(
        F.zip_with("qe", lit_center, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kcenter_seeds(emb: DataFrame):
    """Greedy farthest-point traversal (Gonzalez' 2-approximation for
    k-center): pick the lowest-id point, then repeatedly the point
    farthest from every center chosen so far — the canonical
    *diversity* selector for coreset construction / active-learning
    seed sets, complementing k-means' density clustering.

    Returns ``(qv, seeds)`` where ``seeds`` is a k-row python list of
    ``(round, center_vec_id, d2_at_selection)`` — ``d2_at_selection``
    is the covering radius BEFORE that center was added (the k-center
    objective trace; 0 for the seed by convention).

    Every step is exact integer arithmetic (milli-unit quantization,
    BIGINT squared-L2) with deterministic tie-breaks (farthest ties →
    lowest vec_id), so the discrete selection cannot diverge between
    engines.

    Scale posture: the running state is one ``min_d2`` column updated
    per round by a map-only ``least(min_d2, d2(new_center))`` over the
    persisted quantized corpus — O(n·k) total work, the algorithm's
    lower bound. Each round's argmax is ``orderBy(...).limit(1)``
    (TakeOrderedAndProject: per-partition top-1 then a k-row driver
    merge — never a global sort) followed by a ONE-ROW collect, the
    same bounded-collect shape as the BPE trainer's per-round argmax.
    Centers are k constant-size literal arrays; nothing all-pairs,
    nothing driver-side over data-sized inputs.
    """
    qv = caching.persist_tracked(_kc_quantized(emb))
    first = qv.orderBy("vec_id").limit(1).collect()[0]
    seeds = [(0, int(first["vec_id"]), 0)]
    centers = [[int(c) for c in first["qe"]]]
    state = qv.select("vec_id", "qe", _kc_d2(centers[0]).alias("min_d2"))
    for rnd in range(1, _KC_K):
        far = (
            state.orderBy(F.desc("min_d2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        seeds.append((rnd, int(far["vec_id"]), int(far["min_d2"])))
        centers.append([int(c) for c in far["qe"]])
        state = state.select(
            "vec_id",
            "qe",
            F.least("min_d2", _kc_d2(centers[-1])).alias("min_d2"),
        )
    return qv, seeds, centers


def _kcenter_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed trace + coverage: each selected center with its selection
    radius and the size of its nearest-center cell (ties → earliest
    round, mirroring the oracle's ``row_number`` over ``(d2, round)``)."""
    from .extensions import _emb

    qv, seeds, centers = kcenter_seeds(_emb(spark, sf_dir))
    darr = F.array(*[_kc_d2(c) for c in centers])
    assigned = qv.select(
        "vec_id",
        (F.array_position(darr, F.array_min(darr)) - 1)
        .cast("int")
        .alias("round"),
    )
    counts = assigned.groupBy("round").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned")
    )
    seed_df = spark.createDataFrame(
        [(r, v, d) for r, v, d in seeds],
        "round int, center_vec_id long, d2_at_selection long",
    )
    return (
        seed_df.join(counts, "round", "left")
        .select(
            F.col("round").cast("long").alias("round"),
            "center_vec_id",
            "d2_at_selection",
            F.coalesce("n_assigned", F.lit(0).cast("long")).alias(
                "n_assigned"
            ),
        )
        .orderBy("round")
    )


def _kc_sql() -> str:
    """Unrolled farthest-point chain (k=5) in DuckDB — same milli-unit
    quantization/tie-breaks as the Spark path. Every chain level is
    ``AS MATERIALIZED`` (the house rule for CTE chains whose level r
    references level r-1 more than once — s{r} and d{r} both read
    d{r-1}, and qt feeds every level twice): left inline, DuckDB's
    optimizer re-expanded the chain and this oracle ground for 506 s
    SOLO on an idle box at sf0.01; materialized it runs in 12 s with
    byte-identical rows (measured r13, both variants row-compared)."""
    parts = [
        """
WITH qt AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
c0 AS (SELECT min(vec_id) AS cid FROM qt),
d0 AS MATERIALIZED (
  SELECT a.vec_id, sum((a.q - b.q) * (a.q - b.q)) AS min_d2
  FROM qt a JOIN qt b ON a.pos = b.pos
  WHERE b.vec_id = (SELECT cid FROM c0)
  GROUP BY a.vec_id
)"""
    ]
    for r in range(1, _KC_K):
        parts.append(
            f""",
s{r} AS MATERIALIZED (
  SELECT vec_id AS cid, min_d2 AS d2 FROM d{r - 1}
  ORDER BY min_d2 DESC, vec_id ASC LIMIT 1
),
d{r} AS MATERIALIZED (
  SELECT a.vec_id, least(p.min_d2, sum((a.q - b.q) * (a.q - b.q))) AS min_d2
  FROM qt a JOIN qt b ON a.pos = b.pos
  JOIN d{r - 1} p ON p.vec_id = a.vec_id
  WHERE b.vec_id = (SELECT cid FROM s{r})
  GROUP BY a.vec_id, p.min_d2
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT {r}, cid, d2 FROM s{r}" for r in range(1, _KC_K)
    )
    parts.append(
        f""",
seeds AS (
  SELECT 0 AS round, (SELECT cid FROM c0) AS center_vec_id,
         CAST(0 AS BIGINT) AS d2_at_selection
  UNION ALL
  SELECT * FROM (
  {union}
  ) t(round, center_vec_id, d2_at_selection)
),
ct AS (
  SELECT s.round, q.pos, q.q FROM seeds s
  JOIN qt q ON q.vec_id = s.center_vec_id
),
alld AS (
  SELECT a.vec_id, c.round, sum((a.q - c.q) * (a.q - c.q)) AS d2
  FROM qt a JOIN ct c ON a.pos = c.pos
  GROUP BY a.vec_id, c.round
),
assigned AS (
  SELECT vec_id, round FROM (
    SELECT vec_id, round,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, round ASC) AS rn
    FROM alld
  ) WHERE rn = 1
),
counts AS (
  SELECT round, CAST(count(*) AS BIGINT) AS n_assigned
  FROM assigned GROUP BY round
)
SELECT CAST(s.round AS BIGINT) AS round,
       CAST(s.center_vec_id AS BIGINT) AS center_vec_id,
       CAST(s.d2_at_selection AS BIGINT) AS d2_at_selection,
       coalesce(c.n_assigned, 0) AS n_assigned
FROM seeds s LEFT JOIN counts c ON s.round = c.round
ORDER BY s.round"""
    )
    return "".join(parts)


register(
    QuerySpec(
        "embedding_kcenter_seeds",
        _kcenter_seeds,
        _kc_sql(),
        doc="greedy farthest-point traversal (Gonzalez k-center, k=5): "
        "diversity/coreset seed selection over the embedding corpus — "
        "per-round covering-radius trace + nearest-center cell sizes, "
        "all in cross-engine-exact integer arithmetic (milli-unit "
        "quantization, BIGINT squared-L2, lowest-id / earliest-round "
        "tie-breaks)",
        tags=("extension", "mining", "embedding", "iterative", "coreset"),
    )
)


# ---------------------------------------------------------------------------
# incremental connected-components maintenance (base contraction + delta)
# ---------------------------------------------------------------------------

_CC_SPLIT = "2024-01-21"


def _cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC maintenance — the "don't re-cluster 100 TB for a
    delta" path for graph clustering, the CC analogue of
    ``dedup_incremental_signatures``: components over the first 20 days
    of the co-click graph are CONTRACTED to their label edges
    ``(node, label)`` and only the delta edges (remaining days) are
    added before re-converging. Contraction preserves both the node
    universe (every base node appears in a label edge — co-click
    components have >= 2 members) and the min-id labels (a label IS a
    member node), so the merged fixpoint provably equals the full
    recompute — and the ORACLE IS the full recompute (DuckDB RECURSIVE
    closure over the all-days edge list): hash equality is the
    incremental-equals-full proof, not just a self-check.

    Scale posture: the base graph (the 100 TB part) is touched only as
    its |V|-sized label table; re-convergence runs on label edges +
    delta — a graph with one node per base component — so the hook /
    pointer-jump rounds start nearly converged (one round at sf0.01 vs
    the full run's several).
    """
    from ..operators.dedup import components_from_edges

    base_e = _coclick_edges(spark, sf_dir, before=_CC_SPLIT)
    delta_e = _coclick_edges(spark, sf_dir, since=_CC_SPLIT)
    base_labels = components_from_edges(
        base_e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    )
    contracted = base_labels.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("a"), F.col("label").alias("b")
    )
    merged = components_from_edges(
        contracted.unionByName(
            delta_e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        )
    )
    return (
        merged.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.max("node").cast("long").alias("max_user_id"),
        )
        .orderBy("component_id")
    )


register(
    QuerySpec(
        "graph_cc_incremental",
        _cc_incremental,
        """
WITH RECURSIVE uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
),
sym AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
reach AS (
  SELECT a AS x, a AS y FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.x, s.b AS y FROM reach r JOIN sym s ON r.y = s.a
),
comp AS (SELECT x AS node, min(y) AS component_id FROM reach GROUP BY x)
SELECT component_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(node) AS BIGINT) AS max_user_id
FROM comp GROUP BY component_id ORDER BY component_id
""",
        doc="incremental CC maintenance: base components contracted to "
        "label edges + delta edges re-converged; oracle is the FULL "
        "recompute closure over all days, so the green row is the "
        "incremental-equals-full proof",
        tags=("extension", "graph", "iterative", "incremental"),
    )
)


# ---------------------------------------------------------------------------
# robust outliers: median absolute deviation in exact integer arithmetic
# ---------------------------------------------------------------------------


def _mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier flagging with the MEDIAN/MAD estimator —
    the companion to ``events_zscore_outliers`` that a heavy-tailed
    column needs (mean/variance are themselves dragged by the outliers
    they're meant to find; median/MAD have a 50% breakdown point).

    Everything is exact integers: medians are computed by RANK
    SELECTION (row_number over the per-type sort; the two middle ranks
    summed give 2x the interpolated median — ``sum(rn = r1) +
    sum(rn = r2)`` double-counts the single middle rank exactly when n
    is odd), deviations are ``|2*xi - med2|``, and the flag test
    ``|xi - med| > 3 * MAD`` cross-multiplies to ``2*di > 3*madd2`` —
    no percentile functions, no float interpolation, so both engines
    agree bit-for-bit.

    Scale note: exact median selection sorts each type's partition
    (two ranking windows here) — that IS the cost of exactness;
    the sketch path (approx_percentile / quantile digests) is the
    100 TB default and is separately audited in
    ``quantile_sketch_audit``. Partition-wise the windows are keyed by
    event_type (5 groups locally; a high-cardinality key keeps windows
    bounded)."""
    ev = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("xi"),
        )
        # an unmeasured event (NULL value) has no magnitude: it cannot
        # be an outlier and must not occupy a median rank — unfiltered,
        # the NULL xi sorts FIRST on Spark and LAST on DuckDB, shifting
        # every rank-selected median by one (r11 dirty-fixture catch)
        .where(F.col("xi").isNotNull())
    )
    wt = Window.partitionBy("event_type").orderBy("xi")
    ranked = ev.withColumn("rn", F.row_number().over(wt))
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r1 = F.floor((F.col("n") + 1) / 2).cast("long")
    r2 = F.floor((F.col("n") + 2) / 2).cast("long")
    med = (
        ranked.join(F.broadcast(cnt), "event_type")
        .groupBy("event_type", "n")
        .agg(
            (
                F.sum(F.when(F.col("rn") == r1, F.col("xi")))
                + F.sum(F.when(F.col("rn") == r2, F.col("xi")))
            ).alias("med2")
        )
    )
    dev = (
        ev.join(F.broadcast(med.select("event_type", "med2")), "event_type")
        .withColumn("di", F.abs(2 * F.col("xi") - F.col("med2")))
    )
    wd = Window.partitionBy("event_type").orderBy("di")
    dranked = dev.withColumn("rn", F.row_number().over(wd))
    madd = (
        dranked.join(F.broadcast(cnt), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.when(F.col("rn") == r1, F.col("di")))
                + F.sum(F.when(F.col("rn") == r2, F.col("di")))
            ).alias("madd2")
        )
    )
    return (
        dev.join(F.broadcast(madd), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("med2").cast("long").alias("med2"),
            F.max("madd2").cast("long").alias("madd2"),
            F.sum(
                F.when(2 * F.col("di") > 3 * F.col("madd2"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "events_mad_outliers",
        _mad_outliers,
        """
WITH ev AS (
  -- NULL values excluded on BOTH engines: an unmeasured event has no
  -- magnitude and must not occupy a median rank (see the Spark twin)
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS xi FROM events
  WHERE value IS NOT NULL
),
cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY 1
),
ranked AS (
  SELECT event_type, xi,
         row_number() OVER (PARTITION BY event_type ORDER BY xi) AS rn
  FROM ev
),
med AS (
  SELECT r.event_type,
         sum(CASE WHEN r.rn = (c.n + 1) // 2 THEN r.xi END)
         + sum(CASE WHEN r.rn = (c.n + 2) // 2 THEN r.xi END) AS med2
  FROM ranked r JOIN cnt c USING (event_type)
  GROUP BY r.event_type
),
dev AS (
  SELECT e.event_type, abs(2 * e.xi - m.med2) AS di
  FROM ev e JOIN med m USING (event_type)
),
dranked AS (
  SELECT event_type, di,
         row_number() OVER (PARTITION BY event_type ORDER BY di) AS rn
  FROM dev
),
madd AS (
  SELECT d.event_type,
         sum(CASE WHEN d.rn = (c.n + 1) // 2 THEN d.di END)
         + sum(CASE WHEN d.rn = (c.n + 2) // 2 THEN d.di END) AS madd2
  FROM dranked d JOIN cnt c USING (event_type)
  GROUP BY d.event_type
)
SELECT dev.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(med.med2) AS BIGINT) AS med2,
       CAST(max(madd.madd2) AS BIGINT) AS madd2,
       CAST(sum(CASE WHEN 2 * dev.di > 3 * madd.madd2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev
JOIN med USING (event_type)
JOIN madd USING (event_type)
GROUP BY dev.event_type
ORDER BY dev.event_type
""",
        doc="robust MAD outlier flagging in exact integers: medians by "
        "rank selection (two middle ranks summed = 2x median), flag "
        "test |xi-med| > 3*MAD cross-multiplied to 2*di > 3*madd2 — "
        "no percentile functions, no float interpolation",
        tags=("extension", "mining", "statistics", "robust"),
    )
)


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup candidates via k-means cluster blocking
# ---------------------------------------------------------------------------


def _semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., 2023: cluster the
    embedding space, then look for near-duplicates ONLY within a
    cluster): the exact k-means assignment (``_kmeans_core``) is the
    blocking key, and cosine similarity is scored for within-cluster
    pairs only — the cluster structure prunes the O(n²) pair space to
    sum-of-cluster-sizes², the same blocking discipline as the MinHash
    bands and LSH buckets, but in SEMANTIC space. Output: the top-20
    most similar within-cluster pairs (rank-limited, so no
    threshold-tuning dependence; a production run would cut at a cosine
    threshold per cluster).

    At 100 TB: k scales with corpus size (k ≈ n/avg_cluster), keeping
    per-cluster pair generation bounded; the k-means pass is linear
    (see ``embedding_kmeans_exact``) and scoring touches only
    co-clustered pairs."""
    from ..operators.similarity import _as_double, _dot

    from .extensions import _emb

    _, a2 = _kmeans_core(spark, sf_dir)
    emb = _emb(spark, sf_dir).select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    normed = emb.select(
        "vec_id", "e", F.sqrt(_dot(F.col("e"), F.col("e"))).alias("nrm")
    )
    # within-cluster self-join with the embedding array on BOTH sides:
    # the corpus-vs-corpus payload shape whose compressed shuffle stats
    # under-read in-memory size ~3-20x and let AQE broadcast-demote a
    # corpus-sized side (r6 100x smoke, driver OOM) — pin the strategy
    # like every other corpus x corpus join (operators/dedup.py:283).
    memb = caching.persist_tracked(normed.join(a2, "vec_id")).hint(
        "shuffle_hash"
    )
    # salt the k-key self-join (r15, guide §2.5): the join key has only
    # k=8 distinct values, so every within-cluster pair was generated
    # AND cosine-scored on ONE task (measured: all 249,802 pairs in one
    # partition at sf0.1 — the query's dominant stage ran serial at any
    # core count). Salting b-side rows to a deterministic per-row salt
    # (pmod of vec_id — never rand(), guide §2.5 retry hazard) and
    # exploding the a-side over all salt values keys the join on
    # (cluster, salt): k x n_salt buckets, identical pair set (each
    # (a, b) pair meets exactly once, at b's salt), and the per-pair
    # dot products run data-parallel. The salt is RIGHT-SIZED to
    # ceil(parallelism / k): replication cost is paid only where the
    # cluster count itself is too small to parallelize — at 100 TB,
    # k ≈ n/avg_cluster is large and the salt collapses toward 1.
    # ... and PIN the join's partition count with explicit repartitions
    # of the (tiny) salted inputs: the membership rows' compressed
    # shuffle stats undersell the embedding arrays, so AQE coalesced
    # the join's exchanges back to ONE partition even with 32 distinct
    # (cluster, salt) keys (measured via spark_partition_id). A
    # user-specified repartition is never AQE-coalesced, satisfies the
    # join's required distribution (no extra exchange), and re-shuffles
    # only the n + n·n_salt membership rows — never the O(pairs)
    # scored stream.
    n_salt = max(1, -(-parallelism(spark) // _KM_K))
    a = spread(
        memb.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        ),
        "cluster",
        "_salt",
    ).alias("a")
    b = spread(
        memb.withColumn(
            "_salt", F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int")
        ),
        "cluster",
        "_salt",
    ).alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a_vec_id"),
            F.col("b.vec_id").alias("b_vec_id"),
            F.col("a.cluster").alias("cluster"),
            F.round(
                F.try_divide(
                    _dot(F.col("a.e"), F.col("b.e")),
                    F.col("a.nrm") * F.col("b.nrm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return (
        pairs.orderBy(
            F.col("cos_sim").desc(),
            F.col("a_vec_id").asc(),
            F.col("b_vec_id").asc(),
        )
        .limit(20)
    )


register(
    QuerySpec(
        "semdedup_cluster_pairs",
        _semdedup_pairs,
        _KMEANS_CHAIN_SQL
        + """
, corpus_d AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
normd AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(generate_series(1, len(e)),
              i -> e[i] * e[i]))) AS nrm
  FROM corpus_d
),
memb AS (
  SELECT n.vec_id, n.e, n.nrm, a2.cluster
  FROM normd n JOIN a2 USING (vec_id)
),
p AS (
  SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id, a.cluster,
         round(list_sum(list_transform(generate_series(1, len(a.e)),
               i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm), 6) AS cos_sim
  FROM memb a JOIN memb b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT a_vec_id, b_vec_id, cluster, cos_sim
FROM p ORDER BY cos_sim DESC, a_vec_id ASC, b_vec_id ASC LIMIT 20
""",
        doc="SemDeDup: exact k-means clusters as semantic blocking "
        "keys, cosine scored for within-cluster pairs only (pair space "
        "pruned from O(n^2) to sum of cluster sizes squared); top-20 "
        "rank-limited output",
        tags=("extension", "dedup", "embedding", "semantic"),
    )
)


# ---------------------------------------------------------------------------
# multi-source BFS: hop distance to the nearest seed user
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 3


def _bfs_seed_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-click user graph: hop distance from
    every user to the NEAREST seed (``node % 10 = 0``) within
    ``_BFS_ROUNDS`` hops — the shortest-path labeling family
    (trust/spam-seed propagation, influence radius) that completes the
    graph pack next to components, PageRank and the triangle census.

    Iterative posture (same as ``pagerank_undirected``): the directed
    edge list is persisted once; each round is ONE join of the frontier
    against it plus ONE min-aggregate, with ``localCheckpoint``
    truncating lineage so the plan stays one-round deep. Distances are
    exact integers; the bounded round count keeps the query
    deterministic and lets the oracle unroll the same rounds as CTEs.
    Nodes unreached within the bound are reported as ``hop_dist = -1``
    via a left-anti join — no driver-side node count is baked into the
    result.
    """
    edges = _coclick_edges(spark, sf_dir)
    directed = caching.persist_tracked(
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )
    nodes = directed.select(F.col("src").alias("node")).distinct()
    dist = (
        nodes.where(F.col("node") % 10 == 0)
        .withColumn("d", F.lit(0))
        .localCheckpoint()
    )
    for _ in range(_BFS_ROUNDS):
        frontier = directed.join(dist, directed.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("d") + F.lit(1)).alias("d")
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    reached = dist.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    unreached = (
        nodes.join(dist, "node", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(F.lit(-1).cast("int").alias("hop_dist"), "n_users")
    )
    return (
        reached.select(F.col("d").cast("int").alias("hop_dist"), "n_users")
        .unionByName(unreached)
        .orderBy("hop_dist")
    )


register(
    QuerySpec(
        "graph_bfs_seed_distance",
        _bfs_seed_distance,
        """
WITH uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
),
dir AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
nodes AS (SELECT DISTINCT src AS node FROM dir),
d0 AS (SELECT node, 0 AS d FROM nodes WHERE node % 10 = 0),
d1 AS (SELECT node, min(d) AS d FROM (
         SELECT * FROM d0
         UNION ALL SELECT dir.dst, d0.d + 1 FROM dir JOIN d0 ON dir.src = d0.node
       ) GROUP BY node),
d2 AS (SELECT node, min(d) AS d FROM (
         SELECT * FROM d1
         UNION ALL SELECT dir.dst, d1.d + 1 FROM dir JOIN d1 ON dir.src = d1.node
       ) GROUP BY node),
d3 AS (SELECT node, min(d) AS d FROM (
         SELECT * FROM d2
         UNION ALL SELECT dir.dst, d2.d + 1 FROM dir JOIN d2 ON dir.src = d2.node
       ) GROUP BY node)
SELECT CAST(d AS INTEGER) AS hop_dist, CAST(count(*) AS BIGINT) AS n_users
FROM d3 GROUP BY d
UNION ALL
SELECT -1, CAST((SELECT count(*) FROM nodes) - (SELECT count(*) FROM d3)
                AS BIGINT)
ORDER BY hop_dist
""",
        doc="multi-source BFS (3 bounded rounds): hop distance to the "
        "nearest seed over the co-click graph, one frontier join + one "
        "min-aggregate per round with localCheckpoint lineage "
        "truncation; unreached nodes counted via left-anti join",
        tags=("extension", "graph", "mining", "iterative"),
    )
)


# ---------------------------------------------------------------------------
# distributed model training: logistic regression by batch GD (round 4)
# ---------------------------------------------------------------------------

_LR_ITERS = 3
_LR_RATE = 1.0


def _lr_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-doc features for the is-English probe: bias,
    clamped length, mean word length, type-token ratio — every one a
    per-row expression both engines evaluate bit-identically."""
    d = catalog.base(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    base = d.select("doc_id", "lang", norm.alias("norm")).select(
        "doc_id", "lang", "norm", F.split("norm", " ").alias("w")
    )
    return base.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.lit(1.0).alias("x0"),
        (F.least(F.size("w"), F.lit(400)) / F.lit(400.0)).alias("x1"),
        (
            (F.length("norm") - (F.size("w") - 1))
            / (10.0 * F.size("w"))
        ).alias("x2"),
        (
            F.size(F.array_distinct("w")) / F.size("w").cast("double")
        ).alias("x3"),
    )


def _logreg_gd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC-REGRESSION TRAINING as pure DataFrame
    aggregation: ``_LR_ITERS`` rounds of full-batch gradient descent,
    each one a single map-side-combinable aggregate over the corpus —
    ``g_k = Σ (σ(w·x) − y)·x_k`` with every per-row contribution routed
    through DECIMAL(28,12) so the gradient is aggregation-order-
    independent and bit-equal to the oracle's unrolled-CTE replay.

    This is the shape distributed training actually takes on a data
    engine (each epoch = one scan + one tiny all-reduce): per round the
    driver receives exactly 4 gradient scalars + a count (the same
    constant-size driver sync as the connected-components convergence
    check, dedup.py:595) and ships 4 literal weights back into the next
    plan. At 100 TB each round is one pass over the features; the
    feature table is computed once and persisted.

    The oracle unrolls all three iterations as chained 1-row CTEs —
    genuinely non-trivial decorrelation the registry's TPC-H pack
    doesn't probe (iterative state threading through CTEs).
    """
    f = caching.persist_tracked(_lr_feats(spark, sf_dir))
    xs = ["x0", "x1", "x2", "x3"]
    w = [0.0, 0.0, 0.0, 0.0]
    n = 1
    for _ in range(_LR_ITERS):
        z = sum((F.lit(w[k]) * F.col(xs[k]) for k in range(4)), F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = f.agg(
            *[
                F.sum(
                    ((p - F.col("y")) * F.col(xs[k])).cast("decimal(28,12)")
                )
                .cast("double")
                .alias(f"g{k}")
                for k in range(4)
            ],
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n = row["n"]
        w = [w[k] - _LR_RATE * row[f"g{k}"] / n for k in range(4)]
    z = sum((F.lit(w[k]) * F.col(xs[k]) for k in range(4)), F.lit(0.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    correct = (p >= 0.5) == (F.col("y") == 1.0)
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(correct, 1).otherwise(0)).cast("long").alias(
            "n_correct"
        ),
        F.round(
            F.sum(F.when(correct, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("accuracy_r6"),
        F.round(
            F.sum(
                (
                    -(
                        F.col("y") * F.log(p)
                        + (F.lit(1.0) - F.col("y")) * F.log(1.0 - p)
                    )
                ).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("log_loss_r6"),
        *[
            F.round(F.lit(w[k]), 6).alias(f"w{k}_r6")
            for k in range(4)
        ],
    )


def _lr_sql() -> str:
    feats = r"""
WITH feats AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         least(len(w), 400) / 400.0 AS x1,
         (length(norm) - (len(w) - 1)) / (10.0 * len(w)) AS x2,
         len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS x3
  FROM (
    SELECT doc_id, norm, lang, string_split(norm, ' ') AS w
    FROM (
      SELECT doc_id, lang,
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    )
  )
)
"""

    def grad(zexpr: str, k: int) -> str:
        return (
            f"CAST(sum(CAST((1.0/(1.0+exp(-({zexpr}))) - f.y) * f.x{k} "
            f"AS DECIMAL(28,12))) AS DOUBLE) / count(*)"
        )

    z0 = "0.0"
    it1 = ", it1 AS (\n  SELECT " + ", ".join(
        f"0.0 - {_LR_RATE} * {grad(z0, k)} AS w{k}" for k in range(4)
    ) + "\n  FROM feats f\n)"
    zi = (
        "i.w0*f.x0 + i.w1*f.x1 + i.w2*f.x2 + i.w3*f.x3"
    )
    steps = [it1]
    for t in range(2, _LR_ITERS + 1):
        steps.append(
            f", it{t} AS (\n  SELECT "
            + ", ".join(
                f"i.w{k} - {_LR_RATE} * {grad(zi, k)} AS w{k}"
                for k in range(4)
            )
            + f"\n  FROM feats f CROSS JOIN it{t - 1} i"
            + "\n  GROUP BY i.w0, i.w1, i.w2, i.w3\n)"
        )
    final = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN (1.0/(1.0+exp(-({zi}))) >= 0.5) = (f.y = 1.0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(sum(CASE WHEN (1.0/(1.0+exp(-({zi}))) >= 0.5) = (f.y = 1.0)
                      THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS accuracy_r6,
       round(CAST(sum(CAST(-(f.y * ln(1.0/(1.0+exp(-({zi}))))
                 + (1.0 - f.y) * ln(1.0 - 1.0/(1.0+exp(-({zi})))))
             AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS log_loss_r6,
       round(max(i.w0), 6) AS w0_r6,
       round(max(i.w1), 6) AS w1_r6,
       round(max(i.w2), 6) AS w2_r6,
       round(max(i.w3), 6) AS w3_r6
FROM feats f CROSS JOIN it{_LR_ITERS} i
"""
    return feats + "".join(steps) + final


register(
    QuerySpec(
        "logreg_gd_train",
        _logreg_gd_train,
        _lr_sql(),
        doc="Distributed logistic-regression training: 3 rounds of full-"
        "batch gradient descent, each one map-side-combinable aggregate "
        "(decimal-routed gradient sums, constant-size driver sync), "
        "then a train-accuracy/log-loss eval — oracle replays the "
        "identical schedule as 3 chained 1-row CTEs",
        tags=("extension", "mining", "training"),
    )
)


# ---------------------------------------------------------------------------
# label propagation communities (round 5)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3
_LPA_TOP = 10


def _label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    co-click graph: labels start as node ids; each round every node
    adopts its neighbors' MODE label (count desc, label asc tie-break —
    fully deterministic, unlike classic async LPA). Three rounds,
    unrolled; the report is the top-10 communities by size.

    Shape at 100 TB: each round is one equi-join of the symmetric edge
    list against the current |nodes|-row label table plus a
    per-node mode election (key-partitioned count + rank window) —
    R x (join + two key-partitioned shuffles), the same bounded-round
    discipline as the PageRank and CC operators; labels never leave
    key-partitioned operators. Co-click nodes all have >= 1 edge by
    construction, so no isolated-node carry is needed."""
    from ..operators.ranking import global_topk

    edges = _coclick_edges(spark, sf_dir)
    sym = caching.persist_tracked(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
    )
    labels = sym.select(F.col("a").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        counted = (
            sym.join(labels, sym["b"] == labels["n"])
            .groupBy(F.col("a").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("node").alias("n"), "lbl")
        )
    communities = labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    return global_topk(
        communities,
        _LPA_TOP,
        F.desc("n_nodes"),
        F.asc("community"),
        alias="rank",
    ).select(
        "community", "n_nodes", F.col("rank").cast("long").alias("rank")
    ).orderBy("rank")


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
r{cur} AS (
  SELECT s.a AS n, l.lbl, count(*) AS c
  FROM sym s JOIN {prev} l ON l.n = s.b
  GROUP BY s.a, l.lbl
),
l{cur} AS (
  SELECT n, lbl FROM (
    SELECT *, row_number() OVER (PARTITION BY n
        ORDER BY c DESC, lbl ASC) AS rn
    FROM r{cur}) WHERE rn = 1
)"""


register(
    QuerySpec(
        "graph_label_propagation",
        _label_propagation,
        """
WITH uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
),
sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
l0 AS (SELECT DISTINCT a AS n, a AS lbl FROM sym),"""
        + _lpa_round_sql("l0", "1")
        + ","
        + _lpa_round_sql("l1", "2")
        + ","
        + _lpa_round_sql("l2", "3")
        + f"""
, communities AS (
  SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
  FROM l3 GROUP BY lbl
)
SELECT community, n_nodes,
       CAST(row_number() OVER (ORDER BY n_nodes DESC, community ASC)
            AS BIGINT) AS rank
FROM communities
QUALIFY rank <= {_LPA_TOP}
ORDER BY rank
""",
        doc="Deterministic synchronous label propagation (3 rounds, mode "
        "label with count/label tie-break) over the co-click graph; "
        "top-10 communities by size — R bounded rounds of edge-join + "
        "key-partitioned mode election",
        tags=("extension", "graph", "mining", "iterative"),
    )
)


# ---------------------------------------------------------------------------
# degree assortativity (round 5)
# ---------------------------------------------------------------------------


def _degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-click graph: the Pearson
    correlation of endpoint degrees over the DOUBLED edge list (Newman
    2002) — positive means hubs click alongside hubs. Every sum in the
    correlation is an exact integer (degrees are counts), so the
    closed-form is bit-deterministic; one degree table, one edge-degree
    equi-join per endpoint, one constant-size aggregate."""
    edges = _coclick_edges(spark, sf_dir)  # helper already persist-tracks
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    sym = edges.select(F.col("u").alias("x"), F.col("v").alias("y")).unionByName(
        edges.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )
    paired = (
        sym.join(deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
    )
    agg = paired.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    r = (
        (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (
            F.sqrt(
                (F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            * F.sqrt(
                (F.col("m2") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        )
    )
    return (
        agg.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            F.round(r, 6).alias("assortativity_r6"),
        )
    )


register(
    QuerySpec(
        "graph_degree_assortativity",
        _degree_assortativity,
        """
WITH uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
  GROUP BY n
),
sym AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v, u FROM e),
paired AS (
  SELECT dx.d AS dx, dy.d AS dy
  FROM sym s JOIN deg dx ON dx.n = s.x JOIN deg dy ON dy.n = s.y
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(dx) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy
  FROM paired
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       round(CAST(m2 * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(m2 * syy - sy * sy AS DOUBLE))), 6)
         AS assortativity_r6
FROM agg
""",
        doc="Degree assortativity (Newman 2002) of the co-click graph: "
        "Pearson correlation of endpoint degrees over the doubled edge "
        "list, all sums exact integers - one degree table, two "
        "edge-degree equi-joins, constant-size aggregate",
        tags=("extension", "graph", "mining", "statistics"),
    )
)


# ---------------------------------------------------------------------------
# k-core peeling (round 6)
# ---------------------------------------------------------------------------

_KCORE_K = 6
_KCORE_ROUNDS = 10


def _kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous k-core peeling (k=6, 10 fixed rounds) over the
    co-click graph: each round simultaneously removes every node whose
    CURRENT degree is below k, the standard cascade that isolates the
    graph's dense backbone (the community-detection / spam-filter
    pre-pass beside label propagation). The round count is a CONSTANT,
    not a convergence test, so both engines run the identical bounded
    computation whether or not the peel has reached fixpoint — at
    sf0.01 it converges in 4 rounds and the remaining rounds are
    no-ops by construction.

    Output: the peel trace — per round, how many nodes were removed
    and how many edges survive; the final row is the k-core size.

    Scale posture: per round one degree aggregate + two left-anti
    joins on the (persisted, collapsed) edge table, each round's
    survivor set ``localCheckpoint``-ed so lineage stays flat; the
    trace rows are 1-row aggregates of checkpointed tables unioned
    into a single 10-row action — no driver-side collect at all."""
    return kcore_peel_core(_coclick_edges(spark, sf_dir))


def kcore_peel_core(edges: DataFrame) -> DataFrame:
    """The bounded synchronous peel of ``_kcore_peel`` over any
    ``(u, v)`` edge DataFrame — factored so property tests can feed
    synthetic graphs and verify the cascade against a Python replay
    (tests/test_graph_property.py)."""
    cur = edges
    rows = None
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionByName(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        low = caching.persist_tracked(
            deg.where(F.col("deg") < _KCORE_K).select("n")
        )
        nxt = (
            cur.join(low.withColumnRenamed("n", "u"), "u", "left_anti")
            .join(low.withColumnRenamed("n", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint()
        )
        row = (
            low.agg(F.count(F.lit(1)).cast("long").alias("n_removed"))
            .crossJoin(
                nxt.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .select(
                F.lit(r).cast("long").alias("round"),
                "n_removed",
                "n_edges",
            )
        )
        rows = row if rows is None else rows.unionByName(row)
        cur = nxt
    return rows.orderBy("round")


def _kcore_sql() -> str:
    parts = [
        """
WITH uk AS (
  SELECT DISTINCT TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k,
         CAST(ts AS DATE) AS d, user_id
  FROM events WHERE event_type = 'click'
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM uk a JOIN uk b ON a.k = b.k AND a.d = b.d
  WHERE a.user_id < b.user_id
)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
low{r} AS MATERIALIZED (
  SELECT n FROM (
    SELECT u AS n FROM e{r - 1} UNION ALL SELECT v AS n FROM e{r - 1}
  ) GROUP BY n HAVING count(*) < {_KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT u, v FROM e{r - 1}
  WHERE u NOT IN (SELECT n FROM low{r})
    AND v NOT IN (SELECT n FROM low{r})
)"""
        )
    trace = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM low{r}) AS n_removed,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    parts.append("\n" + trace + "\nORDER BY round")
    return "".join(parts)


register(
    QuerySpec(
        "graph_kcore_peel",
        _kcore_peel,
        _kcore_sql(),
        doc="synchronous k-core peeling (k=6, 10 fixed rounds) over the "
        "co-click graph: per-round removed-node / surviving-edge "
        "trace down to the dense backbone — bounded deterministic "
        "rounds of degree-aggregate + anti-join, lineage checkpointed "
        "per round, no driver-side collect",
        tags=("extension", "graph", "mining", "iterative"),
    )
)
