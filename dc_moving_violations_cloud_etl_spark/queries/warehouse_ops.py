"""Warehouse-pattern operators (round 3): SCD Type-2 history build,
CDC log compaction, Markov transition matrix, BPE merge-pair mining,
and a key-skew (Gini) audit.

These are the dimensional-modeling / change-capture shapes the
reference's MySQL upsert sinks (SURVEY.md §2.B) gesture at but never
materialize as queries: the reference overwrites state (last-writer
wins); a warehouse keeps the history (SCD-2) or compacts an op-log
(CDC). Every query windows over PRE-AGGREGATED or per-key-bounded data
with a deterministic (ts, event_id) tiebreak, so results hash-match the
DuckDB oracles exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import catalog
from ..expressions import wide_product
from ..oracle import with_ref_views
from ..scratch import private_dir, staged
from .registry import QuerySpec, register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.base(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# SCD Type-2: per-user attribute-version history from the props.k stream
# ---------------------------------------------------------------------------


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the Type-2 slowly-changing-dimension history of each user's
    ``props.k`` attribute: a new version opens at every change-point
    (lag-compare), closes at the next change (lead). Output is the
    per-user version summary (bounded by |users|), not the raw interval
    table — the interval build itself is the operator under test.

    Scale: both windows partition by user_id over already-projected
    3-column rows; at cluster scale this is one shuffle on the user key,
    and the change-point filter drops ~(1 - 1/|k-domain|) of rows before
    the second window."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").try_cast("long").alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_k", F.lag("k").over(w))
        .where(F.col("prev_k").isNull() | (F.col("k") != F.col("prev_k")))
        .select("user_id", "ts", "event_id", "k")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = changes.withColumn("valid_to", F.lead("ts").over(w2))
    return (
        versions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_versions"),
            F.count("valid_to").cast("long").alias("n_closed"),
            F.round(
                F.sum(
                    F.unix_micros("valid_to") - F.unix_micros("ts")
                ).cast("double")
                / 1000000.0,
                3,
            ).alias("closed_duration_s"),
            F.max(F.struct("ts", "event_id", "k"))["k"]
            .cast("long")
            .alias("current_k"),
        )
        .orderBy("user_id")
    )


register(
    QuerySpec(
        "scd2_user_attribute_history",
        _scd2_history,
        """
WITH ev AS (
  SELECT user_id, ts, event_id,
         TRY_CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]*[+-]?[0-9]+[\\x00-\\x20\\x7f]*$') THEN regexp_replace(json_extract_string(props, '$.k'), '^[\\x00-\\x20\\x7f]+|[\\x00-\\x20\\x7f]+$', '', 'g') END AS BIGINT) AS k
  FROM events
),
changes AS (
  SELECT user_id, ts, event_id, k
  FROM (
    SELECT *, lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_k
    FROM ev
  )
  WHERE prev_k IS NULL OR k <> prev_k
),
versions AS (
  SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM changes
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(count(valid_to) AS BIGINT) AS n_closed,
       round(CAST(sum(epoch_us(valid_to) - epoch_us(ts)) AS DOUBLE)
             / 1000000.0, 3) AS closed_duration_s,
       CAST(max({'ts': ts, 'event_id': event_id, 'k': k}).k AS BIGINT)
         AS current_k
FROM versions
GROUP BY user_id ORDER BY user_id
""",
        doc="SCD Type-2 interval build (change-point lag filter + lead "
        "close) from the props.k attribute stream, summarized per user",
        tags=("extension", "warehouse", "scd2"),
    )
)


# ---------------------------------------------------------------------------
# CDC op-log compaction: last state per key
# ---------------------------------------------------------------------------


def _cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the event stream as a CDC op-log (signup=insert,
    error=delete, anything else=upsert) and compact it to final state:
    one partitioned-window pass picks each key's last op, a filter drops
    deleted keys. This is the read-side MERGE the reference's
    ``ON DUPLICATE KEY UPDATE`` sink performs write-side
    (reference etl/daily_load/violation_etl_daily.py:289)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    last = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    alive = last.where(F.col("event_type") != "error")
    dead = last.where(F.col("event_type") == "error")
    return alive.agg(
        F.count(F.lit(1)).cast("long").alias("n_alive"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("alive_value_sum"),
    ).crossJoin(
        dead.agg(F.count(F.lit(1)).cast("long").alias("n_deleted"))
    )


register(
    QuerySpec(
        "cdc_last_state_compaction",
        _cdc_compaction,
        """
WITH last AS (
  SELECT * FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT CAST(count(*) FILTER (WHERE event_type <> 'error') AS BIGINT)
         AS n_alive,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
              FILTER (WHERE event_type <> 'error') AS DOUBLE)
         AS alive_value_sum,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
         AS n_deleted
FROM last
""",
        doc="CDC op-log compaction to last-key state (partitioned "
        "row_number, delete-op filter) — read-side MERGE semantics",
        tags=("extension", "warehouse", "cdc"),
    )
)


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


def _transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts + row-conditional
    probabilities: lag() per user (deterministic (ts, event_id) order),
    then one hash-agg over the 5×5 type space. The probability divides
    by the per-prev-type total via a tiny second window over the
    25-row aggregate — no second pass over the data."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wt = Window.partitionBy("prev_type")
    return (
        pairs.withColumn(
            "p",
            F.round(F.col("n") / F.sum("n").over(wt), 6),
        )
        .orderBy("prev_type", "next_type")
    )


register(
    QuerySpec(
        "event_transition_matrix",
        _transition_matrix,
        """
WITH seq AS (
  SELECT event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6)
         AS p
FROM pairs
ORDER BY prev_type, next_type
""",
        doc="first-order Markov transition matrix (lag pairs -> 5x5 "
        "hash-agg -> conditional probability over the aggregate)",
        tags=("extension", "analytics", "sequence"),
    )
)


# ---------------------------------------------------------------------------
# BPE merge-candidate mining: top adjacent character pairs
# ---------------------------------------------------------------------------

BPE_TOPK = 20


def _bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of one BPE-training merge round: frequency of
    adjacent character pairs inside whitespace tokens, corpus-wide.
    ``transform(sequence(...))`` generates the pairs as a JVM-side
    higher-order function — no UDF — and the count is one explode +
    hash-agg, linear in corpus characters."""
    docs = catalog.base(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    toks = docs.select(F.explode(F.split(norm, " ")).alias("t")).where(
        F.length("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOPK)
    )


register(
    QuerySpec(
        "bpe_merge_pair_counts",
        _bpe_pairs,
        rf"""
WITH toks AS (
  SELECT t
  FROM (
    SELECT unnest(string_split(
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '))
           AS t
    FROM documents
  ) WHERE length(t) >= 2
),
pairs AS (
  SELECT unnest(list_transform(
           generate_series(1, length(t) - 1),
           i -> substr(t, i, 2))) AS pair
  FROM toks
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT {BPE_TOPK}
""",
        doc="BPE merge-candidate mining: adjacent char-pair counts via "
        "transform(sequence(...)) higher-order function, top-k with "
        "deterministic tiebreak",
        tags=("extension", "text", "bpe-training"),
    )
)


# ---------------------------------------------------------------------------
# key-skew audit: Gini coefficient of the per-key distribution
# ---------------------------------------------------------------------------


def _skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies join/agg key skew per event_type: Gini coefficient of
    the per-user event-count distribution, computed from the PRE-
    aggregated (type, user) counts (bounded by |types|×|users|). The
    skew number is what decides salting/AQE-skew-join treatment at
    100 TB (operators/skew.py implements the remediation; this query is
    the detector)."""
    counts = (
        _events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("c", "user_id")
    ranked = counts.withColumn("i", F.row_number().over(w).cast("long"))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("c").cast("long").alias("n_events"),
            F.max("c").cast("long").alias("max_key_count"),
            # rank×count and keys×events products are widened to
            # DECIMAL(38,0)/double BEFORE multiplying: both factors are
            # corpus-sized at 100 TB, so the 64-bit products the naive
            # form computes overflow long while the DuckDB twin widens
            # to HUGEINT (sum(BIGINT) → HUGEINT)
            F.round(
                (
                    2.0
                    * F.sum(wide_product(F.col("i"), F.col("c"))).cast(
                        "double"
                    )
                )
                / (
                    F.count(F.lit(1)).cast("double")
                    * F.sum("c").cast("double")
                )
                - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
                6,
            ).alias("gini"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "key_skew_gini_audit",
        _skew_gini,
        """
WITH counts AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                                    ORDER BY c, user_id) AS BIGINT) AS i
  FROM counts
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_events,
       CAST(max(c) AS BIGINT) AS max_key_count,
       round((2.0 * sum(CAST(i AS HUGEINT) * c))
             / (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
GROUP BY event_type ORDER BY event_type
""",
        doc="key-skew detector: Gini coefficient of per-key counts over "
        "the pre-aggregated (type, user) table — decides salting/AQE "
        "skew treatment",
        tags=("extension", "quality", "skew"),
    )
)


# ---------------------------------------------------------------------------
# inverted index build: term -> sorted posting list
# ---------------------------------------------------------------------------


def _inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction — the search-index build step over the
    corpus: explode tokens, dedupe (term, doc) pairs, aggregate each
    term's SORTED doc-id posting list. Selective terms only (document
    frequency 2..50): head terms would emit postings proportional to the
    corpus (those belong in a stopword/impact-ordered tier at scale, not
    in an array column). One shuffle on the term key; ``sort_array``
    makes the list deterministic, and the posting list is SERIALIZED to a
    comma-joined string — the driver's canonicalizer sorts raw result
    values before hashing and cannot hash a raw array cell
    (CORRECTNESS_r03: ``TypeError: unhashable type: 'list'``)."""
    docs = catalog.base(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    pairs = (
        docs.select("doc_id", F.explode(F.split(norm, " ")).alias("term"))
        .where(F.length("term") >= 3)
        .distinct()
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where((F.col("df") >= 2) & (F.col("df") <= 50))
        .orderBy("term")
    )


register(
    QuerySpec(
        "inverted_index_postings",
        _inverted_index,
        r"""
WITH pairs AS (
  SELECT DISTINCT doc_id, t AS term
  FROM (
    SELECT doc_id,
           unnest(string_split(
             lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
    FROM documents
  ) WHERE length(t) >= 3
)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM pairs
GROUP BY term
HAVING count(*) BETWEEN 2 AND 50
ORDER BY term
""",
        doc="inverted-index posting lists for selective terms (df 2..50): "
        "explode -> (term, doc) dedup -> sorted array_agg serialized to "
        "a comma-joined string; one term-key shuffle",
        tags=("extension", "text", "inverted-index"),
    )
)


# ---------------------------------------------------------------------------
# incremental aggregate maintenance: partial merge vs full recompute
# ---------------------------------------------------------------------------

INCR_CUTOFF = "2024-01-20"


def _incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-recompute contract a 100 TB rollup relies on:
    yesterday's materialized partial aggregate plus today's delta
    partial must MERGE to exactly the full recompute (count and DECIMAL
    sum are associative/commutative, so union-of-partials + re-agg is
    lossless). The query performs both paths — merge of the base/delta
    partials and a direct full aggregate — and emits a per-group
    equality flag; at scale the base partial is a stored table and only
    the delta scans new data, which is the entire point."""
    ev = catalog.base(spark, sf_dir, "events").select(
        "event_type", "ts", F.col("value").cast("decimal(18,2)").alias("v")
    )
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")

    def partial(df: DataFrame, part: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{part}"),
            F.sum("v").alias(f"sum_{part}"),
        )

    base = partial(ev.where(F.col("ts") < cutoff), "base")
    delta = partial(ev.where(F.col("ts") >= cutoff), "delta")
    merged = (
        base.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
            (
                F.coalesce("n_base", F.lit(0))
                + F.coalesce("n_delta", F.lit(0))
            ).alias("n_merged"),
            (
                F.coalesce(
                    "sum_base", F.lit("0.00").cast("decimal(18,2)")
                )
                + F.coalesce(
                    "sum_delta", F.lit("0.00").cast("decimal(18,2)")
                )
            ).alias("sum_merged_dec"),
        )
    )
    full = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_full"),
        F.sum("v").alias("sum_full"),
    )
    return (
        merged.join(full, "event_type")
        .select(
            "event_type",
            "n_base",
            "n_delta",
            "n_merged",
            F.col("sum_merged_dec").cast("double").alias("total_merged"),
            (
                (F.col("n_merged") == F.col("n_full"))
                & (F.col("sum_merged_dec") == F.col("sum_full"))
            ).cast("int").alias("matches_full"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "incremental_agg_maintenance",
        _incremental_agg,
        f"""
WITH ev AS (
  SELECT event_type, ts, CAST(value AS DECIMAL(18,2)) AS v FROM events
),
base AS (
  SELECT event_type, count(*) AS n_base, sum(v) AS sum_base
  FROM ev WHERE ts < TIMESTAMP '{INCR_CUTOFF}' GROUP BY event_type
),
delta AS (
  SELECT event_type, count(*) AS n_delta, sum(v) AS sum_delta
  FROM ev WHERE ts >= TIMESTAMP '{INCR_CUTOFF}' GROUP BY event_type
),
merged AS (
  SELECT coalesce(base.event_type, delta.event_type) AS event_type,
         coalesce(n_base, 0) AS n_base,
         coalesce(n_delta, 0) AS n_delta,
         coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_merged,
         coalesce(sum_base, CAST('0.00' AS DECIMAL(18,2)))
           + coalesce(sum_delta, CAST('0.00' AS DECIMAL(18,2)))
           AS sum_merged_dec
  FROM base FULL OUTER JOIN delta USING (event_type)
),
full_agg AS (
  SELECT event_type, count(*) AS n_full, sum(v) AS sum_full
  FROM ev GROUP BY event_type
)
SELECT m.event_type,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_delta AS BIGINT) AS n_delta,
       CAST(n_merged AS BIGINT) AS n_merged,
       CAST(sum_merged_dec AS DOUBLE) AS total_merged,
       CAST(n_merged = n_full AND sum_merged_dec = sum_full AS INT)
         AS matches_full
FROM merged m JOIN full_agg f ON m.event_type = f.event_type
ORDER BY m.event_type
""",
        doc="incremental aggregate maintenance: base+delta partial merge "
        "proven equal to the full recompute per group (associative "
        "count/DECIMAL-sum partials; the stored-rollup update pattern)",
        tags=("extension", "warehouse", "incremental"),
    )
)


# ---------------------------------------------------------------------------
# positional phrase search over the inverted index
# ---------------------------------------------------------------------------

_PHRASE = ("fast", "table")


def _phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("fast table") the way a positional inverted
    index answers it: fetch ONLY the two terms' posting lists (doc_id,
    position), join them on ``doc_id`` + adjacent position, count
    matches per document — the companion to ``inverted_index_postings``
    that actually USES the index shape.

    Scale posture: the filter to the two query terms runs BEFORE any
    join (the "read two posting lists, not the corpus" property that
    makes positional indexes work at scale); the adjacency join is an
    equi-join on (doc_id, pos) between two term-bounded tables. No
    regex/substring scan of the corpus text in the Spark path — the
    DuckDB twin derives the same adjacency from a lead() window, so the
    two engines agree on word-boundary semantics by construction
    (substring counting would miscount overlapping/boundary-sharing
    repeats)."""
    docs = catalog.base(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    tok = docs.select(
        "doc_id", F.posexplode(F.split(norm, " ")).alias("pos", "w")
    )
    w1, w2 = _PHRASE
    p1 = tok.where(F.col("w") == w1).select("doc_id", "pos")
    p2 = tok.where(F.col("w") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy("doc_id")
    )


register(
    QuerySpec(
        "phrase_search_positional",
        _phrase_search,
        r"""
WITH toks AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS t
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM toks
),
adj AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM adj WHERE w1 = 'fast' AND w2 = 'table'
GROUP BY doc_id ORDER BY doc_id
""",
        doc="positional-index phrase search: two term-bounded posting "
        "lists joined on (doc_id, adjacent pos) — never a corpus "
        "substring scan; lead()-window twin fixes word-boundary "
        "semantics in both engines",
        tags=("extension", "warehouse", "text", "retrieval"),
    )
)


# ---------------------------------------------------------------------------
# full MERGE matrix (update / delete / insert / carry) on CDC state
# ---------------------------------------------------------------------------

_MERGE_SPLIT = "2024-01-16"


def _cdc_merge_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-MERGE semantics exercised end-to-end on parquet-backed
    state via ``operators.sinks.merge_matrix`` (Spark SQL's MERGE INTO
    statement requires a v2 table — this is the DataFrame
    re-expression, the full matrix the reference's two MySQL idioms
    span between them: ON DUPLICATE KEY UPDATE = matched-update,
    INSERT IGNORE = not-matched-insert; DELETE is the cell neither
    covers).

    Scenario: per-user state built from the first half of the event
    history (the "table"), merged with the second half as a CDC batch
    (the "delta") — matched users whose delta is errors-only are
    DELETED (churn compaction), other matched users get additive
    updates (counts/cents summed, last_day = greatest), users first
    seen in the delta are INSERTED, untouched users carry. Every value
    is integer/string-exact; the _action audit column is part of the
    checked result so the oracle verifies WHICH merge cell each row
    took, not just the final values."""
    from ..operators.sinks import merge_matrix

    ev = catalog.base(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts"),
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    split = F.lit(_MERGE_SPLIT).cast("date")

    def _state(df: DataFrame, with_err: bool) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
            F.date_format(F.max("ts"), "yyyy-MM-dd").alias("last_day"),
        ]
        if with_err:
            aggs.append(
                F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
                .cast("long")
                .alias("n_err")
            )
        return df.groupBy("user_id").agg(*aggs)

    target = _state(ev.where(F.to_date("ts") < split), with_err=False)
    source = _state(ev.where(F.to_date("ts") >= split), with_err=True)

    merged = merge_matrix(
        target,
        source,
        ["user_id"],
        delete_cond=F.col("s.n_err") == F.col("s.n_events"),
        update_cols={
            "n_events": F.col("t.n_events") + F.col("s.n_events"),
            "cents": F.col("t.cents") + F.col("s.cents"),
            "last_day": F.greatest(F.col("t.last_day"), F.col("s.last_day")),
        },
    )
    return merged.select(
        "user_id",
        "n_events",
        "cents",
        "last_day",
        F.col("_action").alias("action"),
    ).orderBy("user_id")


register(
    QuerySpec(
        "cdc_merge_matrix",
        _cdc_merge_matrix,
        f"""
WITH ev AS (
  SELECT user_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
target AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS cents,
         strftime(max(ts), '%Y-%m-%d') AS last_day
  FROM ev WHERE CAST(ts AS DATE) < DATE '{_MERGE_SPLIT}'
  GROUP BY user_id
),
source AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS cents,
         strftime(max(ts), '%Y-%m-%d') AS last_day,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM ev WHERE CAST(ts AS DATE) >= DATE '{_MERGE_SPLIT}'
  GROUP BY user_id
)
SELECT coalesce(t.user_id, s.user_id) AS user_id,
       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
              THEN t.n_events + s.n_events
            WHEN t.user_id IS NULL THEN s.n_events
            ELSE t.n_events END AS n_events,
       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
              THEN t.cents + s.cents
            WHEN t.user_id IS NULL THEN s.cents
            ELSE t.cents END AS cents,
       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
              THEN greatest(t.last_day, s.last_day)
            WHEN t.user_id IS NULL THEN s.last_day
            ELSE t.last_day END AS last_day,
       CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
              THEN 'update'
            WHEN t.user_id IS NULL THEN 'insert'
            ELSE 'carry' END AS action
FROM target t FULL OUTER JOIN source s ON t.user_id = s.user_id
WHERE NOT (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
           AND s.n_err = s.n_events)
ORDER BY user_id
""",
        doc="full MERGE matrix on parquet state (matched-delete / "
        "matched-update / not-matched-insert / carry) via one "
        "full-outer key join; _action cell membership is part of the "
        "hashed result",
        tags=("extension", "warehouse", "cdc", "merge"),
    )
)


# ---------------------------------------------------------------------------
# order-insensitive table fingerprint (replication / migration audit)
# ---------------------------------------------------------------------------


def _table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of the events table, per month: every row is
    canonically serialized (fixed decimal cents, microsecond timestamp
    format, NULL→'' — the cross-engine-stable forms the round-trip
    sources already rely on), md5-hashed, and the first 8 hex digits
    SUMMED per month. Addition is commutative, so the fingerprint is
    order-insensitive — two replicas (or a pre/post-migration pair)
    compare constant-size summaries instead of shipping rows, and any
    single-row difference moves the sum with probability ~1-2^-32 per
    row. This is the distributed analog of the reference's verification
    queries (DEPLOYMENT.md row-count probes), upgraded from "same
    count" to "same content".

    Scale posture: embarrassingly parallel — one projection + md5 per
    row fused into the scan, one partial+final hash aggregate on the
    month key; no shuffle beyond the per-month combine, no sort, no
    row movement between replicas. md5 (not xxhash64) because both
    engines implement it identically, which is the whole point of a
    CROSS-engine fingerprint."""
    ev = catalog.base(spark, sf_dir, "events")
    # EVERY nullable component is coalesced to '' so the serialization
    # is TOTAL: concat_ws silently SKIPS a NULL component (shifting the
    # field layout) while the twin's '||' chain nullifies the whole row
    # string and drops the row's hash from the sum — a replica whose
    # only difference is a NULL field would fingerprint-match (r11
    # dirty-fixture catch; only props was coalesced before)
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("event_id").cast("string"), F.lit("")),
        F.coalesce(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit("")
        ),
        F.coalesce(F.col("user_id").cast("string"), F.lit("")),
        F.coalesce(F.col("event_type"), F.lit("")),
        F.coalesce(
            F.round(F.col("value") * 100, 0).cast("long").cast("string"),
            F.lit(""),
        ),
        F.coalesce(F.col("props"), F.lit("")),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast("long")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(h).cast("long").alias("fingerprint"),
        )
        .orderBy("month")
    )


register(
    QuerySpec(
        "table_fingerprint_audit",
        _table_fingerprint,
        """
SELECT strftime(ts, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_rows,
       -- every component coalesced: one NULL field must perturb the
       -- fingerprint, not NULL the whole row string out of the sum
       CAST(sum(CAST(('0x' || substr(md5(
              coalesce(CAST(event_id AS VARCHAR), '') || '|' ||
              coalesce(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '') || '|' ||
              coalesce(CAST(user_id AS VARCHAR), '') || '|' ||
              coalesce(event_type, '') || '|' ||
              coalesce(CAST(CAST(round(value * 100) AS BIGINT)
                            AS VARCHAR), '') || '|' ||
              coalesce(props, '')), 1, 8)) AS BIGINT)) AS BIGINT)
         AS fingerprint
FROM events
GROUP BY strftime(ts, '%Y-%m')
ORDER BY month
""",
        doc="order-insensitive per-month content fingerprint: canonical "
        "row serialization -> md5 -> 8-hex-digit sum; constant-size "
        "replica comparison, the content-level upgrade of the "
        "reference's row-count verification probes",
        tags=("extension", "warehouse", "audit"),
    )
)


# ---------------------------------------------------------------------------
# snapshot versioning: time-travel diff between two table versions
# ---------------------------------------------------------------------------

_SNAP_SPLIT = "2024-01-16"


def _snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a snapshot-versioned table
    (``operators.snapshots``): v1 is the per-user state as of the
    reference's mid-month load, v2 the state after the full history;
    both are COMMITTED parquet snapshots behind an atomically-swapped
    manifest, and this query reads them BACK through the manifest and
    diffs them — "what changed since version 1" asked of the table
    itself, which the reference's overwrite-in-place MySQL tables
    structurally cannot answer. The staged table is built once per
    fixture generation (``scratch.staged``) so repeated runs are reads,
    not writes.

    Scale posture: each snapshot write is one parquet write of that
    version's data (no history rewrite); version reads are ordinary
    parquet scans with all pushdown intact; the diff is one key join of
    two version scans."""
    from ..operators.snapshots import read_snapshot, write_snapshot

    def write(out: str) -> None:
        ev = catalog.base(spark, sf_dir, "events").select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        state = lambda df: df.groupBy("user_id").agg(  # noqa: E731
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
        )
        write_snapshot(
            state(ev.where(F.col("d") < F.lit(_SNAP_SPLIT).cast("date"))),
            out,
        )
        write_snapshot(state(ev), out)

    table_dir = staged("snap", sf_dir, write)
    v1 = read_snapshot(spark, table_dir, 1).alias("v1")
    v2 = read_snapshot(spark, table_dir, None).alias("v2")  # latest = 2
    return (
        v1.join(v2, F.col("v1.user_id") == F.col("v2.user_id"), "full_outer")
        .select(
            F.coalesce(F.col("v1.user_id"), F.col("v2.user_id")).alias(
                "user_id"
            ),
            F.coalesce(F.col("v1.n_events"), F.lit(0)).alias("n_v1"),
            F.coalesce(F.col("v2.n_events"), F.lit(0)).alias("n_v2"),
            (
                F.coalesce(F.col("v2.cents"), F.lit(0))
                - F.coalesce(F.col("v1.cents"), F.lit(0))
            ).alias("cents_delta"),
            F.when(F.col("v1.user_id").isNull(), F.lit("new"))
            .when(
                F.col("v1.n_events") == F.col("v2.n_events"), F.lit("same")
            )
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
        .orderBy("user_id")
    )


register(
    QuerySpec(
        "snapshot_time_travel_diff",
        _snapshot_time_travel,
        f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
v1 AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM ev WHERE d < DATE '{_SNAP_SPLIT}' GROUP BY user_id
),
v2 AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM ev GROUP BY user_id
)
SELECT coalesce(v1.user_id, v2.user_id) AS user_id,
       coalesce(v1.n_events, 0) AS n_v1,
       coalesce(v2.n_events, 0) AS n_v2,
       coalesce(v2.cents, 0) - coalesce(v1.cents, 0) AS cents_delta,
       CASE WHEN v1.user_id IS NULL THEN 'new'
            WHEN v1.n_events = v2.n_events THEN 'same'
            ELSE 'changed' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
ORDER BY user_id
""",
        doc="snapshot-versioned table time travel: two committed "
        "versions behind an atomically-swapped manifest, read back "
        "through the manifest and diffed — the minimal Delta-style "
        "versioning core on plain parquet",
        tags=("extension", "warehouse", "snapshot", "time-travel"),
    )
)


# ---------------------------------------------------------------------------
# materialized-rollup serving (aggregate navigation)
# ---------------------------------------------------------------------------


def _rollup_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate navigation — answering the reference's Qa from a
    STORED day-grain rollup instead of the fact table: a
    ``(violation_date, month, agency) -> count`` rollup is written once
    per fixture generation (parquet, process-private dir + atomic
    rename) and the monthly answer re-aggregates THE ROLLUP — the
    BI-serving pattern where a day-grain summary answers every
    coarser-grain question. The oracle computes Qa from the raw fact
    CTEs, so the green row proves the rollup path is EQUAL to the fact
    path (the correctness condition of materialized-view rewriting;
    the freshness half is ``incremental_agg_maintenance``).

    Scale posture: the serving read scans rollup rows (days x agencies
    — thousands), not fact rows (billions at 100 TB); count partials
    re-aggregate associatively to any coarser grain."""
    d = staged(
        "rollup",
        sf_dir,
        lambda out: catalog.violations(spark, sf_dir)
        .groupBy("violation_date", "month", "issuing_agency_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(out),
        files=("lineitem.parquet", "orders.parquet"),
    )
    return (
        spark.read.parquet(d)
        .groupBy("month", "issuing_agency_name")
        .agg(F.sum("n").cast("long").alias("tickets_count"))
        .orderBy("month", "issuing_agency_name")
    )


register(
    QuerySpec(
        "rollup_serving_qa",
        _rollup_serving,
        # the fact-path oracle: a green row proves rollup == fact
        with_ref_views(
            """
SELECT month, issuing_agency_name,
       CAST(count(*) AS BIGINT) AS tickets_count
FROM violations
GROUP BY month, issuing_agency_name
ORDER BY month, issuing_agency_name
"""
        ),
        doc="aggregate navigation: Qa answered from a stored day-grain "
        "rollup (associative count partials re-aggregated to month "
        "grain) proven equal to the fact-table path — the "
        "materialized-view rewriting correctness condition",
        tags=("extension", "warehouse", "rollup", "serving"),
    )
)


# ---------------------------------------------------------------------------
# deletion propagation (right-to-be-forgotten) audit
# ---------------------------------------------------------------------------


def _gdpr_forget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: a deterministic deletion set
    (``user_id % 37 = 0``) is removed from every user-keyed table via
    broadcast anti-joins, and the AUDIT — per-table before/removed/
    after counts plus a residual-trace probe over the post-deletion
    union — is the checked result. ``n_traces = 0`` in the hash is the
    compliance proof; the reference's MySQL layer would run the same
    protocol as DELETEs, here it is rewrite-on-read over immutable
    parquet (pair with ``snapshot_time_travel_diff``'s versioning for
    the publish step: forget = write snapshot N+1 without the rows).

    Scale posture: the deletion list broadcasts (it is always tiny
    relative to the corpus); each table pays one scan + anti-join, no
    shuffle of the fact side.

    NULL-key rule (r11 dirty-fixture catch): a NULL user_id is NOT in
    the forget set, so it must be KEPT — the bare ``~(user_id % 37 =
    0)`` predicate is NULL for it, which silently dropped the row from
    BOTH the removed and the kept counts (a real deletion pipeline
    would lose data). coalesce(False) makes membership two-valued."""
    forget = F.coalesce(F.col("user_id") % 37 == 0, F.lit(False))
    ev = catalog.base(spark, sf_dir, "events").select("user_id")
    cu = catalog.base(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )

    def audit(df: DataFrame, name: str) -> DataFrame:
        kept = df.where(~forget)
        return (
            df.agg(F.count(F.lit(1)).cast("long").alias("rows_before"))
            .crossJoin(
                F.broadcast(
                    df.where(forget).agg(
                        F.count(F.lit(1)).cast("long").alias("rows_removed")
                    )
                )
            )
            .crossJoin(
                F.broadcast(
                    kept.agg(
                        F.count(F.lit(1)).cast("long").alias("rows_after"),
                        F.sum(F.when(forget, 1).otherwise(0))
                        .cast("long")
                        .alias("n_traces"),
                    )
                )
            )
            .select(
                F.lit(name).alias("table_name"),
                "rows_before",
                "rows_removed",
                "rows_after",
                F.coalesce(F.col("n_traces"), F.lit(0)).alias("n_traces"),
            )
        )

    return audit(ev, "events").unionByName(audit(cu, "customer")).orderBy(
        "table_name"
    )


register(
    QuerySpec(
        "gdpr_forget_users_audit",
        _gdpr_forget,
        """
WITH ev AS (SELECT user_id FROM events),
cu AS (SELECT c_custkey AS user_id FROM customer),
a AS (
  SELECT 'events' AS table_name,
         CAST(count(*) AS BIGINT) AS rows_before,
         CAST(sum(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS rows_removed,
         CAST(sum(CASE WHEN user_id % 37 = 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS rows_after,
         CAST(0 AS BIGINT) AS n_traces
  FROM ev
  UNION ALL
  SELECT 'customer',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT),
         CAST(sum(CASE WHEN user_id % 37 = 0 THEN 0 ELSE 1 END) AS BIGINT),
         CAST(0 AS BIGINT)
  FROM cu
)
SELECT * FROM a ORDER BY table_name
""",
        doc="right-to-be-forgotten propagation audit: deterministic "
        "deletion set removed from every user-keyed table, "
        "before/removed/after counts + a residual-trace probe "
        "(n_traces = 0 in the hash IS the compliance proof)",
        tags=("extension", "warehouse", "compliance"),
    )
)


# ---------------------------------------------------------------------------
# relationship cardinality profile (schema-discovery audit)
# ---------------------------------------------------------------------------


def _fk_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relationship cardinality profiling — the schema-discovery audit
    a warehouse runs before trusting joins: for each declared FK edge,
    the child-per-parent fan-out distribution (min/max/exact
    average cross-multiplied to a rounded ratio) and whether the
    relationship is effectively 1:1 or 1:N. All counts are exact
    integers; the average is emitted as (n_children, n_parents) so the
    hash never touches float division.

    One groupBy per edge on the FK key (partial-agg combine), then a
    1-row summary per edge — at 100 TB each edge costs one fact scan,
    and the profile is what decides broadcast-vs-bucket join strategy
    for every downstream query."""
    def profile(child: DataFrame, key: str, name: str) -> DataFrame:
        fan = child.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        return fan.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).cast("long").alias("n_parents"),
            F.sum("c").cast("long").alias("n_children"),
            F.min("c").cast("long").alias("min_fanout"),
            F.max("c").cast("long").alias("max_fanout"),
            (F.max("c") == 1).alias("is_one_to_one"),
        )

    li = catalog.base(spark, sf_dir, "lineitem")
    orders = catalog.base(spark, sf_dir, "orders")
    ev = catalog.base(spark, sf_dir, "events")
    return (
        profile(li, "l_orderkey", "lineitem->orders")
        .unionByName(profile(orders, "o_custkey", "orders->customer"))
        .unionByName(profile(ev, "user_id", "events->user"))
        .orderBy("relationship")
    )


register(
    QuerySpec(
        "fk_cardinality_profile",
        _fk_cardinality,
        """
WITH li AS (
  SELECT 'lineitem->orders' AS relationship, count(*) AS c
  FROM lineitem GROUP BY l_orderkey
),
o AS (
  SELECT 'orders->customer' AS relationship, count(*) AS c
  FROM orders GROUP BY o_custkey
),
e AS (
  SELECT 'events->user' AS relationship, count(*) AS c
  FROM events GROUP BY user_id
),
u AS (
  SELECT * FROM li UNION ALL SELECT * FROM o UNION ALL SELECT * FROM e
)
SELECT relationship,
       CAST(count(*) AS BIGINT) AS n_parents,
       CAST(sum(c) AS BIGINT) AS n_children,
       CAST(min(c) AS BIGINT) AS min_fanout,
       CAST(max(c) AS BIGINT) AS max_fanout,
       max(c) = 1 AS is_one_to_one
FROM u GROUP BY relationship
ORDER BY relationship
""",
        doc="FK fan-out cardinality profile per declared edge (exact "
        "min/max/count, no float division) — the schema-discovery "
        "audit that decides broadcast-vs-bucket strategy downstream",
        tags=("extension", "warehouse", "profiling"),
    )
)


# ---------------------------------------------------------------------------
# k-anonymity audit: quasi-identifier group-size risk
# ---------------------------------------------------------------------------

_K_ANON = 5


def _k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the violations fact: group by the
    quasi-identifier tuple ``(issuing_agency_name, violation_code,
    month)`` and report how many equivalence classes fall below
    ``k = 5`` members and how many rows those classes expose — the
    re-identification risk check that runs before any record-level
    publish, next to ``gdpr_forget_users_audit`` in the compliance
    family.

    One shuffle on the QI key (partial+final count), then a scalar
    aggregate over the (much smaller) group table; all counts exact
    integers. At 100 TB the QI group table is bounded by QI
    cardinality, not fact rows."""
    qi = (
        catalog.violations(spark, sf_dir)
        .groupBy("issuing_agency_name", "violation_code", "month")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return qi.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n") < _K_ANON, 1).otherwise(0))
        .cast("long")
        .alias("n_risky_groups"),
        F.sum(F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_exposed_rows"),
        F.min("n").cast("long").alias("min_group_size"),
    )


register(
    QuerySpec(
        "privacy_k_anonymity_audit",
        _k_anonymity_audit,
        with_ref_views(
            """
, qi AS (
  SELECT issuing_agency_name, violation_code, month, count(*) AS n
  FROM violations
  GROUP BY issuing_agency_name, violation_code, month
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_groups,
       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS n_exposed_rows,
       CAST(min(n) AS BIGINT) AS min_group_size
FROM qi
"""
        ),
        doc="k-anonymity (k=5) audit over the quasi-identifier tuple "
        "(agency, code, month): equivalence classes below k and the "
        "rows they expose — the pre-publish re-identification risk "
        "check in the compliance family",
        tags=("extension", "compliance", "privacy"),
    )
)


# ---------------------------------------------------------------------------
# bucketed co-located join: zero-exchange fact⋈fact merge
# ---------------------------------------------------------------------------

_N_BUCKETS = 8


def _bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over two tables PRE-BUCKETED on the join key —
    the zero-shuffle layout a large deployment uses for repeated
    PK merges (the upsert sinks' existing⋈incoming join): both sides
    are written ``bucketBy(8, violation_id)``, so the sort-merge join
    reads co-located buckets with NO Exchange node on either side
    (tests/test_bucketing.py pins that plan; dump_plans audits this
    query's). Bucketing is layout-only, so the oracle is the plain
    self-join over the unbucketed view — identical values prove the
    physical layout changed nothing.

    Staging: the bucketed files are written once per fixture generation
    (``scratch.staged``); each
    session re-registers them as EXTERNAL bucketed tables via CREATE
    TABLE ... CLUSTERED BY ... LOCATION — the metadata round-trip a
    warehouse catalog performs. Table names carry the fixture-identity
    tag, so a regenerated fixture can never serve stale buckets.
    """
    import os

    def write(d: str) -> None:
        df = catalog.violations(spark, sf_dir).select(
            "violation_id", "month", "fine_amount"
        )
        for side in ("a", "b"):
            tmp_name = f"_stage_bucket_{side}_{os.getpid()}"
            (
                df.write.bucketBy(_N_BUCKETS, "violation_id")
                .sortBy("violation_id")
                .option("path", os.path.join(d, side))
                .mode("overwrite")
                .saveAsTable(tmp_name)
            )
            # external table: DROP removes only the metadata; the
            # bucket-tagged files stay for the post-rename CREATE TABLE
            spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")

    d = staged(
        "bucketv", sf_dir, write, files=("lineitem.parquet", "orders.parquet")
    )
    tag = os.path.basename(d).replace("-", "_")
    names = {}
    for side in ("a", "b"):
        t = f"v_{tag}_{side}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {t} "
            "(violation_id STRING, month STRING, fine_amount DOUBLE) "
            "USING PARQUET CLUSTERED BY (violation_id) "
            f"SORTED BY (violation_id) INTO {_N_BUCKETS} BUCKETS "
            f"LOCATION '{os.path.join(d, side)}'"
        )
        names[side] = t
    a = spark.table(names["a"])
    b = spark.table(names["b"]).select(
        "violation_id", F.col("fine_amount").alias("fine_b")
    )
    from ..expressions import exact_decimal_sum

    j = a.hint("merge").join(b, "violation_id")
    return (
        j.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            exact_decimal_sum(F.col("fine_amount")).alias("fine_total"),
            exact_decimal_sum(F.col("fine_b")).alias("fine_total_b"),
        )
        .orderBy("month")
    )


register(
    QuerySpec(
        "bucketed_join_zero_shuffle",
        _bucketed_join_agg,
        with_ref_views(
            """
, v AS (SELECT violation_id, month, fine_amount FROM violations)
SELECT a.month,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(a.fine_amount AS DECIMAL(18,2))) AS DOUBLE)
         AS fine_total,
       CAST(sum(CAST(b.fine_amount AS DECIMAL(18,2))) AS DOUBLE)
         AS fine_total_b
FROM v a JOIN v b USING (violation_id)
GROUP BY a.month
ORDER BY a.month
"""
        ),
        doc="co-located bucketed join (bucketBy 8 on the PK, both "
        "sides): sort-merge join with zero Exchange nodes — the "
        "repeated-merge layout at 100 TB; oracle is the plain "
        "self-join, proving bucketing is layout-only",
        tags=("extension", "warehouse", "bucketing", "layout"),
    )
)


# ---------------------------------------------------------------------------
# differential privacy: Laplace-noised histogram release (round 4)
# ---------------------------------------------------------------------------

_DP_EPSILON = 1.0  # privacy budget for the whole release (parallel comp.)
_DP_SALT = "dp-laplace-v1:"


def _dp_noisy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level ε-differentially-private histogram release: per-type
    event counts with Laplace(1/ε) noise, ε = 1.0 for the WHOLE release
    — each event belongs to exactly one type, so the per-type releases
    compose in PARALLEL (disjoint partitions) and the budget is not
    split. Sensitivity of each partition count to adding/removing one
    event is 1, hence scale b = 1/ε.

    The noise is DETERMINISTIC-seeded (an md5-derived uniform through
    the inverse Laplace CDF, the standard seeded-DP deployment shape:
    auditable releases, reproducible pipelines) — the engine-level
    plumbing (clamping at zero, integer rounding, per-partition budget
    accounting in the output) is the real operator; swapping the seed
    stream for a CSPRNG is a one-line change. Released beside the true
    count because this is the release AUDIT view; the publishable view
    drops `true_count`.

    Shape at 100 TB: one partial+final count shuffle on event_type; the
    noise arithmetic runs on the (tiny) group table.
    """
    per_type = (
        catalog.base(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_DP_SALT), F.col("event_type"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    noise = (
        F.lit(-1.0 / _DP_EPSILON)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    released = F.greatest(
        F.lit(0).cast("long"),
        F.round(F.col("true_count") + noise, 0).cast("long"),
    )
    return (
        per_type.select(
            "event_type",
            F.col("true_count").cast("long").alias("true_count"),
            released.alias("released_count"),
            F.abs(released - F.col("true_count")).cast("long").alias(
                "abs_noise"
            ),
            F.lit(_DP_EPSILON).alias("epsilon"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "dp_noisy_histogram_release",
        _dp_noisy_histogram,
        f"""
WITH per_type AS (
  SELECT event_type, count(*) AS true_count FROM events GROUP BY event_type
),
noised AS (
  SELECT event_type, true_count,
         (CAST(CAST('0x' || substr(md5('{_DP_SALT}' || event_type), 1, 8)
               AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
  FROM per_type
),
rel AS (
  SELECT event_type, true_count,
         greatest(0, CAST(round(
             true_count
             + (-1.0 / {_DP_EPSILON}) * sign(u - 0.5)
               * ln(1.0 - 2.0 * abs(u - 0.5)), 0) AS BIGINT))
           AS released_count
  FROM noised
)
SELECT event_type,
       CAST(true_count AS BIGINT) AS true_count,
       released_count,
       CAST(abs(released_count - true_count) AS BIGINT) AS abs_noise,
       CAST({_DP_EPSILON} AS DOUBLE) AS epsilon
FROM rel ORDER BY event_type
""",
        doc="ε-DP histogram release (ε=1, event-level, parallel "
        "composition over disjoint type partitions): Laplace(1/ε) via "
        "seeded inverse-CDF, zero-clamped integer release beside the "
        "true count — the release-audit view of the compliance family",
        tags=("extension", "privacy", "dp"),
    )
)


# ---------------------------------------------------------------------------
# write-audit-publish gate (round 4)
# ---------------------------------------------------------------------------


def _wap_publish_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish — the lakehouse landing discipline (Iceberg's
    WAP, Delta's staging-branch pattern) composed from this engine's own
    pieces: each candidate batch is AUDITED (primary-key integrity)
    before ``snapshots.write_snapshot`` publishes it; a failing
    candidate never reaches the manifest, so downstream readers — who
    resolve versions only through the manifest — cannot observe it.

    Two deterministic candidates probe both gate arms: the clean
    violations build (audit passes → published as v1) and a copy with
    every md5-hash%10==0 key NULLed (audit fails → rejected, no
    version). The output pins row counts, bad-key counts, the publish
    decision, and the resulting version — and the final table state is
    re-read through the manifest to prove the gate held.

    Scale: the audit is one aggregate over the candidate; publish is
    one parquet write + an O(versions) manifest swap — no history
    rewrite (operators/snapshots.py).
    """
    from ..operators import snapshots

    # pre-filter any PRE-EXISTING null/empty keys so the "good"
    # candidate is clean by construction: the gate demo must probe the
    # INJECTED corruption, not fixture hygiene (ADVICE r4 — otherwise a
    # fixture regeneration with one bad key flips the good arm to
    # rejected and read_snapshot raises instead of diverging)
    v = (
        catalog.violations(spark, sf_dir)
        .select("violation_id", "issuing_agency_name", "fine_amount")
        .where(
            F.col("violation_id").isNotNull() & (F.col("violation_id") != "")
        )
    )
    keymod = (
        F.conv(F.substring(F.md5(F.col("violation_id")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    bad = v.withColumn(
        "violation_id",
        F.when(keymod == 0, F.lit(None)).otherwise(F.col("violation_id")),
    )

    # per-PROCESS table dir: this query mutates and re-reads its own
    # demo table, and two concurrent harnesses (pytest plan guardrail +
    # a sim sweep) must not rmtree each other mid-run
    table_dir = private_dir("wap_demo_table")

    rows = []
    for batch_name, cand in (("candidate_bad", bad), ("candidate_good", v)):
        stats = cand.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("violation_id").isNull()
                    | (F.col("violation_id") == ""),
                    1,
                ).otherwise(0)
            ).alias("n_bad"),
        ).collect()[0]
        publish = stats["n_bad"] == 0
        version = (
            snapshots.write_snapshot(cand, table_dir) if publish else None
        )
        rows.append(
            (batch_name, int(stats["n"]), int(stats["n_bad"]), publish,
             version)
        )

    # the gate's proof: the manifest holds exactly the published
    # version, and the table re-read through it has zero bad keys
    published_rows = snapshots.read_snapshot(spark, table_dir)
    n_published = published_rows.count()
    n_versions = len(snapshots.list_versions(table_dir))
    out = spark.createDataFrame(
        rows,
        "batch string, n_rows long, n_bad_keys long, published boolean, "
        "version long",
    )
    return out.select(
        "batch",
        "n_rows",
        "n_bad_keys",
        "published",
        "version",
        F.lit(n_published).cast("long").alias("table_rows_after"),
        F.lit(n_versions).cast("long").alias("n_versions_after"),
    ).orderBy("batch")


register(
    QuerySpec(
        "wap_publish_gate",
        _wap_publish_gate,
        with_ref_views(
            """
, keyed AS (
  SELECT violation_id,
         CAST('0x' || substr(md5(violation_id), 1, 8) AS BIGINT) % 10
           AS keymod
  FROM violations
  WHERE violation_id IS NOT NULL AND violation_id <> ''
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN keymod = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bad
  FROM keyed
)
SELECT 'candidate_bad' AS batch, n AS n_rows, n_bad AS n_bad_keys,
       FALSE AS published, CAST(NULL AS BIGINT) AS version,
       n AS table_rows_after, CAST(1 AS BIGINT) AS n_versions_after
FROM stats
UNION ALL
SELECT 'candidate_good', n, 0, TRUE, 1, n, 1 FROM stats
ORDER BY batch
"""
        ),
        doc="write-audit-publish gate over snapshot-versioned tables: a "
        "bad-key candidate is audited and REJECTED before any manifest "
        "publish (readers can never observe it), the clean candidate "
        "publishes as v1, and the table is re-read through the manifest "
        "to prove the gate held — Iceberg's WAP discipline from this "
        "engine's own snapshot + audit pieces",
        tags=("extension", "warehouse", "wap"),
    )
)
