"""Corpus-curation pipeline queries: the end-to-end operations a
training-data pipeline runs BETWEEN the primitive operators (text stats,
dedup, embeddings) and the final dataset — keep/drop decision cascades,
deterministic stratified sampling, corpus shape histograms, embedding
quantization, and TF-IDF term ranking. All oracle-checked.

Scale posture: every query is projections + hash-aggregations +
equi-joins on uniform keys (md5/text-hash) — no cross joins, no windows
over the full corpus except per-language top-k (bounded output), no
driver-side loops. At 100 TB each stage is a shuffle on a uniformly
distributed key; decision cascades are pure per-row expressions fused
into the scan by whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import caching
from ..operators.text import (
    normalized,
    text_hash,
    tokens,
)
from ..operators.width import spread
from .extensions import _DOCS_CTE, _docs, _emb
from .registry import QuerySpec, register


# ---------------------------------------------------------------------------
# keep/drop decision cascade (exact-dup election + quality gate)
# ---------------------------------------------------------------------------


def _curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship curation shape: exact-dup keeper election (hash
    groupBy + equi-join back on the uniform text hash) feeding a pure-
    expression decision cascade, reported as per-(lang, decision)
    counts. First matching rule wins:

      drop_exact_dup   — another (lower-id) doc has identical normalized
                         text (the standard min-id keeper election);
      drop_low_quality — quality bucket 'low' (< 20 tokens);
      keep             — everything else.

    At 100 TB: one shuffle for the keeper table (map-side partial min),
    one equi-join on text_hash (uniform), then a constant-size aggregate.
    """
    d = _docs(spark, sf_dir)
    norm = normalized(F.col("text"))
    toks = tokens(norm)
    base = d.select(
        "doc_id", "lang", text_hash(norm).alias("text_hash"), toks.alias("toks")
    ).select(
        "doc_id",
        "lang",
        "text_hash",
        F.size("toks").cast("long").alias("n_tokens"),
    )
    keepers = base.groupBy("text_hash").agg(
        F.min("doc_id").alias("keeper_doc_id")
    )
    decided = base.join(keepers, "text_hash").select(
        "lang",
        "n_tokens",
        F.when(F.col("doc_id") != F.col("keeper_doc_id"), "drop_exact_dup")
        # the gate is quality_bucket's 'low' arm, which depends only on
        # n_tokens < 20 — carrying the per-token stopword scan through
        # the shuffle for a comparison that never observes it was dead
        # work on both the engine and oracle sides (r10 review)
        .when(F.col("n_tokens") < 20, "drop_low_quality")
        .otherwise("keep")
        .alias("decision"),
    )
    return (
        decided.groupBy("lang", "decision")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "decision")
    )


register(
    QuerySpec(
        "curation_decisions",
        _curation_decisions,
        _DOCS_CTE
        + f"""
, st AS (
  SELECT doc_id, lang, text_hash,
         CAST(len(toks) AS BIGINT) AS n_tokens
  FROM docs_n
),
keepers AS (
  SELECT text_hash, min(doc_id) AS keeper_doc_id FROM st GROUP BY text_hash
),
decided AS (
  SELECT s.lang, s.n_tokens,
         CASE WHEN s.doc_id <> k.keeper_doc_id THEN 'drop_exact_dup'
              WHEN s.n_tokens < 20 THEN 'drop_low_quality'
              ELSE 'keep' END AS decision
  FROM st s JOIN keepers k ON s.text_hash = k.text_hash
)
SELECT lang, decision, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM decided GROUP BY lang, decision ORDER BY lang, decision
""",
        doc="End-to-end curation decision cascade: exact-dup keeper "
        "election + quality gate -> per-(lang, decision) doc/token "
        "counts (integer-exact)",
        tags=("extension", "curation"),
    )
)


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

# per-language keep percentages — the down/up-weighting step every
# multilingual training mix applies; hash-mod (not rand()) so the sample
# is reproducible run-to-run, engine-to-engine, and stable under
# re-partitioning
SAMPLE_RATES = {"en": 50, "de": 40, "fr": 40, "es": 30, "zh": 20}


def _hash_bucket(c: F.Column) -> F.Column:
    """doc_id → uniform bucket in [0, 100) via an md5 prefix (portable:
    the DuckDB twin computes the identical integer)."""
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pct))
            for lang, pct in SAMPLE_RATES.items()
        ],
        F.lit(0),
    )
    return (
        d.withColumn("keep", (_hash_bucket(F.col("doc_id")) < rate).cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_sampled"),
        )
        .orderBy("lang")
    )


_RATE_SQL = (
    "CASE "
    + " ".join(f"WHEN lang = '{l}' THEN {p}" for l, p in SAMPLE_RATES.items())
    + " ELSE 0 END"
)

register(
    QuerySpec(
        "curation_stratified_sample",
        _stratified_sample,
        f"""
WITH d AS (
  SELECT lang,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < {_RATE_SQL}
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_sampled
FROM d GROUP BY lang ORDER BY lang
""",
        doc="Deterministic per-language stratified sampling via md5-mod "
        "buckets (reproducible across engines/partitionings; the "
        "language-mix reweighting step of a training-data pipeline)",
        tags=("extension", "curation"),
    )
)


# ---------------------------------------------------------------------------
# token-length histogram (power-of-two buckets, integer-exact)
# ---------------------------------------------------------------------------


def _token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape report: docs and tokens per power-of-two length
    bucket. The bucket is ``len(bin(n_tokens))`` — pure integer string
    length, no floating log2 (engine-exact at bucket boundaries)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens(normalized(F.col("text")))).alias("n_tokens")
    )
    bucket = F.length(F.bin(F.col("n_tokens"))).cast("int")
    return (
        d.select(bucket.alias("log2_bucket"), "n_tokens")
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("log2_bucket")
    )


register(
    QuerySpec(
        "text_token_length_histogram",
        _token_length_histogram,
        _DOCS_CTE
        + """
SELECT CAST(len(bin(len(toks))) AS INTEGER) AS log2_bucket,
       count(*) AS n_docs,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
       CAST(min(len(toks)) AS BIGINT) AS min_tokens,
       CAST(max(len(toks)) AS BIGINT) AS max_tokens
FROM docs_n GROUP BY 1 ORDER BY 1
""",
        doc="Token-length histogram in power-of-two buckets (bucket = "
        "binary digit count — integer-exact boundaries, no float log2)",
        tags=("extension", "text"),
    )
)


# ---------------------------------------------------------------------------
# int8 embedding quantization
# ---------------------------------------------------------------------------


def quantize_int8_frame(emb: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/serving
    format for 100 TB embedding tables): scale = max|x| / 127,
    q_i = floor(x_i/scale + 0.5) clamped to [-127, 127]. Every step is
    a single IEEE flop or exact integer op, so the DuckDB twin matches
    bit-for-bit; ``floor(x+0.5)`` avoids engine-dependent round-half
    behavior. Per-row projection — no shuffle. Factored over a generic
    ``(vec_id, embedding)`` DataFrame so unit tests can feed edge-case
    vectors of ANY dimensionality (the registered query applies the
    64-dim ingestion-validation filter via ``_emb``, r11)."""
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(e, F.abs))
    scale = amax / F.lit(127.0)
    q = F.transform(
        e,
        lambda x: F.when(F.col("amax") == 0.0, F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(x / F.col("scale") + F.lit(0.5)),
                ),
            )
        ),
    )
    return (
        emb.withColumn("amax", amax)
        .withColumn("scale", scale)
        .select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            F.round("scale", 6).alias("scale_r6"),
            q.alias("q"),
        )
        .select(
            "vec_id",
            "n_dims",
            "scale_r6",
            F.aggregate(
                "q", F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("q_sum"),
            F.array_min("q").cast("long").alias("q_min"),
            F.array_max("q").cast("long").alias("q_max"),
        )
        .orderBy("vec_id")
    )


def _quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _emb applies the ingestion-validation filter (NULL/off-dim
    # vectors excluded; oracle carries the identical guard - r11)
    return quantize_int8_frame(_emb(spark, sf_dir))


register(
    QuerySpec(
        "embedding_quantize_int8",
        _quantize_int8,
        """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
s AS (
  SELECT vec_id, ed,
         list_max(list_transform(ed, x -> abs(x))) AS amax,
         list_max(list_transform(ed, x -> abs(x))) / 127.0 AS scale
  FROM e
),
q AS (
  SELECT vec_id, ed, amax, scale,
         list_transform(ed, x ->
           CASE WHEN amax = 0 THEN 0
                ELSE greatest(-127, least(127,
                       CAST(floor(x / scale + 0.5) AS BIGINT))) END) AS qv
  FROM s
)
SELECT vec_id,
       CAST(len(ed) AS INTEGER) AS n_dims,
       round(scale, 6) AS scale_r6,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q ORDER BY vec_id
""",
        doc="Symmetric per-vector int8 quantization of the embedding "
        "column: scale/clamp/floor(x+0.5) (engine-exact), per-vector "
        "checksum columns",
        tags=("extension", "embedding"),
    )
)


# ---------------------------------------------------------------------------
# TF-IDF top terms per language
# ---------------------------------------------------------------------------

TFIDF_K = 5


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF: explode tokens once, aggregate document
    frequency globally and term frequency per language, score
    tf·ln(N/df), keep top-5 per language.

    Scale: the explode+agg pair is the canonical map-side-combinable
    token count (shuffle carries only (token, partial count) rows); the
    window runs over per-(lang, token) aggregates — corpus-size
    independent. Scores are rounded to 6 dp before ranking so the libm
    ``ln`` of both engines agrees; ties break on the token string."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", tokens(normalized(F.col("text"))).alias("toks")
    )
    # corpus size as a broadcast 1-row aggregate, not a driver action —
    # the plan stays a single distributed DAG
    n_corpus = d.agg(F.count(F.lit(1)).cast("double").alias("n_corpus"))
    tok = d.select("doc_id", "lang", F.explode("toks").alias("token"))
    df_table = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    tf_table = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    scored = (
        tf_table.join(df_table, "token")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "lang",
            "token",
            "tf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_corpus") / F.col("df").cast("double")),
                6,
            ).alias("tfidf_r6"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("tfidf_r6").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_K)
        .select("lang", "rank", "token", "tf", "tfidf_r6")
        .orderBy("lang", "rank")
    )


register(
    QuerySpec(
        "text_tfidf_top_terms",
        _tfidf_top_terms,
        _DOCS_CTE
        + f"""
, tok AS (
  SELECT doc_id, lang, unnest(toks) AS token FROM docs_n
),
dft AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
),
tft AS (
  SELECT lang, token, count(*) AS tf FROM tok GROUP BY lang, token
),
scored AS (
  SELECT t.lang, t.token, t.tf,
         round(t.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM docs_n)
                          / CAST(d.df AS DOUBLE)), 6) AS tfidf_r6
  FROM tft t JOIN dft d ON t.token = d.token
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
              ORDER BY tfidf_r6 DESC, token ASC) AS rank
  FROM scored
)
SELECT lang, CAST(rank AS INTEGER) AS rank, token, tf, tfidf_r6
FROM ranked WHERE rank <= {TFIDF_K} ORDER BY lang, rank
""",
        doc="Corpus TF-IDF top-5 terms per language: one token explode, "
        "map-side-combined df/tf aggregates, bounded per-language window",
        tags=("extension", "text"),
    )
)


# ---------------------------------------------------------------------------
# benchmark decontamination (word-8-gram overlap semi-join)
# ---------------------------------------------------------------------------

SHINGLE_WORDS = 8
BENCH_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set


def _word_shingles(toks: F.Column) -> F.Column:
    """Word n-gram shingles (the decontamination match unit). Short docs
    collapse to one whole-doc shingle (greatest guard — same semantics
    in the DuckDB twin)."""
    return F.transform(
        F.sequence(
            F.lit(1),
            F.greatest(F.size(toks) - (SHINGLE_WORDS - 1), F.lit(1)),
        ),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, SHINGLE_WORDS))),
    )


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set decontamination: flag corpus docs sharing any word-
    8-gram with the benchmark set. The real pipeline shape at 100 TB:
    explode corpus shingle HASHES (uniform keys), semi-join against the
    (small, broadcast) distinct benchmark shingle set, aggregate hit
    counts — corpus-linear, one broadcast join, no pairwise compare."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", tokens(normalized(F.col("text"))).alias("toks")
    )
    bench_hashes = (
        d.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(_word_shingles(F.col("toks"))).alias("h"))
        .distinct()
    )
    corpus = d.where(F.col("doc_id") % BENCH_MOD != 0)
    hits = (
        corpus.select(
            "doc_id", "lang", F.explode(_word_shingles(F.col("toks"))).alias("h")
        )
        .join(F.broadcast(bench_hashes), "h")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select("doc_id", "lang")
        .join(hits.select("doc_id", "n_hits"), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_checked"),
            F.count("n_hits").cast("long").alias("n_contaminated"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).cast("long").alias("n_hit_shingles"),
        )
        .orderBy("lang")
    )


register(
    QuerySpec(
        "curation_decontaminate",
        _decontaminate,
        _DOCS_CTE
        + f"""
, ws AS (
  SELECT doc_id, lang,
         list_transform(
           generate_series(1, greatest(len(toks) - {SHINGLE_WORDS - 1}, 1)),
           i -> md5(array_to_string(toks[i : i + {SHINGLE_WORDS - 1}], ' '))
         ) AS sh8
  FROM docs_n
),
bench AS (
  SELECT DISTINCT unnest(sh8) AS h FROM ws WHERE doc_id % {BENCH_MOD} = 0
),
corpus AS (SELECT * FROM ws WHERE doc_id % {BENCH_MOD} <> 0),
hits AS (
  SELECT c.doc_id, c.lang, count(*) AS n_hits
  FROM (SELECT doc_id, lang, unnest(sh8) AS h FROM corpus) c
  JOIN bench b ON c.h = b.h
  GROUP BY c.doc_id, c.lang
)
SELECT c.lang,
       count(*) AS n_docs_checked,
       CAST(count(h.n_hits) AS BIGINT) AS n_contaminated,
       CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS n_hit_shingles
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
GROUP BY c.lang ORDER BY c.lang
""",
        doc="Benchmark decontamination: corpus docs sharing any word-8-"
        "gram with the held-out set (doc_id%50==0), via exploded shingle "
        "hashes semi-joined against the broadcast benchmark set",
        tags=("extension", "curation", "decontamination"),
    )
)


# ---------------------------------------------------------------------------
# NEAR-dup decontamination (MinHash-LSH cross-table, round 5)
# ---------------------------------------------------------------------------


def _decontaminate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate benchmark decontamination — the Dolma/CCNet-grade
    complement to the exact 8-gram screen (`curation_decontaminate`):
    a corpus doc is contaminated if it is a MINHASH NEAR-DUP (char-3
    shingle Jaccard >= 0.5) of any held-out benchmark doc, catching
    lightly-edited benchmark copies that share no exact 8-gram.

    Shape at 100 TB: ONE signature pass over the whole table
    (operators/dedup.minhash_signatures — the same materialized sketch
    the intra-corpus dedup uses), then a CROSS-TABLE band equi-join —
    corpus band rows against the benchmark band rows, with the
    benchmark side (a few thousand docs) BROADCAST — followed by exact
    Jaccard verification of only the banded candidates. No all-pairs
    stage anywhere; the corpus-side cost is the sketch scan plus a
    broadcast-join probe.
    """
    from ..operators import dedup as _dedup

    per = caching.persist_tracked(
        _dedup.minhash_signatures(_docs(spark, sf_dir)).select(
            "doc_id", "lang", "text_hash", "sh", "bands"
        )
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    # dup-cluster collapse: bands and shingles are pure functions of the
    # normalized TEXT, so candidate generation and Jaccard verification
    # run once per UNIQUE corpus text (min-doc representative) — a
    # web-scale corpus's heavy exact-dup clusters (the fixture has
    # ~1,500-doc ones) would otherwise multiply both stages by cluster
    # size for identical answers (measured 22 s -> per-rep at sf0.1).
    # NOTE (r14, measured): electing reps on a narrow (text_hash,
    # doc_id) projection + left-semi join back on doc_id was tried and
    # REVERTED — 12.1 s → 18.4 s isolated median at equal load. The
    # extra aggregate + semi-join re-evaluated the cached signature
    # scan under two more operators, costing more than the one
    # window shuffle it saved (at this fixture's ~300-char docs the
    # array payload is small; re-evaluate at a heavier-payload scale).
    w_th = Window.partitionBy("text_hash")
    reps = caching.persist_tracked(
        per.where(~is_bench)
        .withColumn("_rep", F.min("doc_id").over(w_th))
        .where(F.col("doc_id") == F.col("_rep"))
        .select("text_hash", "sh", "bands")
    )
    rep_bands = reps.select(
        "text_hash", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    bench_bands = per.where(is_bench).select(
        F.col("doc_id").alias("bench_doc_id"),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    cand = (
        rep_bands.join(F.broadcast(bench_bands), ["band_idx", "band_hash"])
        .select("text_hash", "bench_doc_id")
        .distinct()
    )
    verified = (
        cand.join(reps.select("text_hash", "sh"), "text_hash")
        .join(
            F.broadcast(
                per.where(is_bench).select(
                    F.col("doc_id").alias("bench_doc_id"),
                    F.col("sh").alias("sh_b"),
                )
            ),
            "bench_doc_id",
        )
        # size-ratio prefilter (r15, guide §1.2): drop the pairs whose
        # set sizes alone rule out the threshold (bound in
        # operators/dedup.py::_size_ratio_ok) BEFORE the per-pair
        # hash-set intersect (the query's dominant cost: ~59k candidate
        # pairs × ~150-string set builds at sf0.1). Exact: every
        # dropped pair fails the jaccard >= threshold filter below.
        .where(_dedup._size_ratio_ok(F.col("sh"), F.col("sh_b")))
        # explicit spread before the expensive per-pair eval (r15,
        # guide §2.5): the candidate join's shuffle stats undersell the
        # shingle-array payload ~20x, so AQE coalesced the verify input
        # to 2 partitions at sf0.1 (measured via spark_partition_id) —
        # 30 of 32 cores idle in the dominant stage. The re-shuffled
        # rows are banded candidates only.
        .transform(spread, "text_hash", "bench_doc_id")
        .select(
            "text_hash",
            _dedup._jaccard(F.col("sh"), F.col("sh_b")).alias("jaccard"),
        )
        # max BEFORE threshold (r15, guide §1.2 — identical result:
        # max(all pairs) >= T iff some pair >= T, and then it equals
        # max(pairs >= T)). The former filter-then-agg shape made
        # Catalyst collapse project+filter and evaluate the jaccard
        # TWICE per pair (once in the pushed filter, once in the agg
        # input — measured 2x the stage); the aggregate is a pushdown
        # barrier, so the HAVING-shaped threshold keeps one eval.
        .groupBy("text_hash")
        .agg(F.max("jaccard").alias("max_jaccard"))
        .where(F.col("max_jaccard") >= _dedup.JACCARD_THRESHOLD)
    )
    corpus = per.where(~is_bench).select("doc_id", "lang", "text_hash")
    return (
        corpus.join(verified, "text_hash", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_checked"),
            F.count("max_jaccard").cast("long").alias("n_contaminated"),
            F.coalesce(F.max("max_jaccard"), F.lit(0.0)).alias(
                "max_jaccard_r6"
            ),
        )
        .orderBy("lang")
    )


def _decontaminate_neardup_sql() -> str:
    from ..operators import dedup as _dedup
    from .extensions import _MINHASH_SIG_SQL

    return (
        _DOCS_CTE
        + _MINHASH_SIG_SQL
        + f"""
, cand AS (
  SELECT DISTINCT c.doc_id, b.doc_id AS bench_doc_id
  FROM bands c JOIN bands b
    ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
  WHERE c.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0
),
ver AS (
  SELECT c.doc_id, max(round(
           CAST(len(list_intersect(dc.sh, db.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(dc.sh, db.sh))) AS DOUBLE),
           6)) AS max_jaccard
  FROM cand c
  JOIN docs_n dc ON dc.doc_id = c.doc_id
  JOIN docs_n db ON db.doc_id = c.bench_doc_id
  GROUP BY c.doc_id
  HAVING max_jaccard >= {_dedup.JACCARD_THRESHOLD}
)
SELECT c.lang,
       count(*) AS n_docs_checked,
       CAST(count(v.max_jaccard) AS BIGINT) AS n_contaminated,
       coalesce(max(v.max_jaccard), 0.0) AS max_jaccard_r6
FROM (SELECT doc_id, lang FROM docs_n
      WHERE doc_id % {BENCH_MOD} <> 0 AND norm IS NOT NULL) c
LEFT JOIN ver v ON v.doc_id = c.doc_id
GROUP BY c.lang ORDER BY c.lang
"""
    )


register(
    QuerySpec(
        "curation_decontaminate_neardup",
        _decontaminate_neardup,
        _decontaminate_neardup_sql(),
        doc="NEAR-dup benchmark decontamination: corpus docs that are "
        "MinHash-LSH near-duplicates (char-3 Jaccard >= 0.5) of any "
        "held-out doc (doc_id%50==0) — one shared signature pass, "
        "broadcast cross-table band join, banded-candidates-only "
        "verification",
        tags=("extension", "curation", "decontamination", "dedup"),
    )
)


# ---------------------------------------------------------------------------
# sequence chunking plan (fixed window + stride)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing prep: split each doc into CHUNK_TOKENS-token
    windows every CHUNK_STRIDE tokens (16-token overlap), reported as
    per-language chunk/token totals. Pure per-row array arithmetic —
    no shuffle before the final tiny aggregate."""
    # NULL-text docs carry no chunkable tokens and are EXCLUDED on all
    # three forms (this plan, its oracle, the UDTF twin): without the
    # filter, Spark's null-skipping least/greatest fabricated one
    # phantom CHUNK_TOKENS-token chunk per NULL doc — least(64, NULL)
    # is 64, not NULL — where the oracle's generate_series over NULL
    # contributes nothing (r10 review)
    d = (
        _docs(spark, sf_dir)
        .select(
            "doc_id", "lang", tokens(normalized(F.col("text"))).alias("toks")
        )
        .where(F.col("toks").isNotNull())
    )
    n = F.size(F.col("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    chunk_lens = F.transform(
        starts, lambda s: F.least(F.lit(CHUNK_TOKENS), n - s)
    )
    per_doc = d.select(
        "lang",
        F.size(starts).alias("n_chunks"),
        F.aggregate(
            chunk_lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("chunk_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("chunk_tokens").cast("long").alias("total_chunk_tokens"),
        )
        .orderBy("lang")
    )


register(
    QuerySpec(
        "curation_chunk_plan",
        _chunk_plan,
        _DOCS_CTE
        + f"""
, per_doc AS (
  SELECT lang,
         len(generate_series(0, greatest(len(toks) - 1, 0), {CHUNK_STRIDE}))
           AS n_chunks,
         list_sum(list_transform(
           generate_series(0, greatest(len(toks) - 1, 0), {CHUNK_STRIDE}),
           s -> least({CHUNK_TOKENS}, len(toks) - s))) AS chunk_tokens
  FROM docs_n WHERE toks IS NOT NULL
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(chunk_tokens) AS BIGINT) AS total_chunk_tokens
FROM per_doc GROUP BY lang ORDER BY lang
""",
        doc=f"Sequence-packing chunk plan: {CHUNK_TOKENS}-token windows "
        f"every {CHUNK_STRIDE} tokens, per-language chunk/token totals "
        "(integer-exact)",
        tags=("extension", "curation"),
    )
)


# ---------------------------------------------------------------------------
# within-doc repetition ratio (dup char-3-gram fraction)
# ---------------------------------------------------------------------------


def _repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signal: fraction of character-3-gram
    occurrences that are duplicates (1 - distinct/total). High values
    flag boilerplate/spam — a standard corpus quality feature. Counts
    are exact integers; the ratio is one division + subtraction,
    rounded to 6 dp (engine-identical)."""
    from ..operators.text import shingles

    d = _docs(spark, sf_dir)
    norm = normalized(F.col("text"))
    n_raw = F.greatest(F.length(norm) - 2, F.lit(1))
    n_dist = F.size(shingles(norm))
    return d.select(
        "doc_id",
        "lang",
        n_raw.cast("long").alias("n_raw_shingles"),
        n_dist.cast("long").alias("n_distinct_shingles"),
        F.round(
            F.lit(1.0) - n_dist.cast("double") / n_raw.cast("double"), 6
        ).alias("repetition_r6"),
    ).orderBy("doc_id")


register(
    QuerySpec(
        "text_repetition_ratio",
        _repetition_ratio,
        _DOCS_CTE
        + """
SELECT doc_id, lang,
       CAST(greatest(len(norm) - 2, 1) AS BIGINT) AS n_raw_shingles,
       CAST(len(sh) AS BIGINT) AS n_distinct_shingles,
       round(1.0 - CAST(len(sh) AS DOUBLE)
                   / CAST(greatest(len(norm) - 2, 1) AS DOUBLE), 6)
         AS repetition_r6
FROM docs_n ORDER BY doc_id
""",
        doc="Within-doc repetition ratio (duplicate char-3-gram "
        "fraction) — boilerplate/spam quality signal, per-row "
        "projection only",
        tags=("extension", "curation", "text"),
    )
)


# ---------------------------------------------------------------------------
# Python UDTF surface (Spark 4): the chunker as a SQL-callable table fn
# ---------------------------------------------------------------------------


def _udtf_chunk_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk plan re-expressed through Spark 4's Python UDTF surface:
    a table function registered for SQL LATERAL use (the extension point
    for 1→N row generators too procedural for expressions). The class is
    defined INSIDE this function so cloudpickle ships it by value —
    identical worker-robustness rule as the pandas UDFs. Semantics are
    the same window/stride walk as ``curation_chunk_plan``, so the same
    oracle covers it (cross-checking UDTF output against the declarative
    twin)."""
    from pyspark.sql.functions import udtf

    chunk, stride = CHUNK_TOKENS, CHUNK_STRIDE

    @udtf(returnType="chunk_idx int, chunk_tokens int")
    class ChunkPlan:
        def eval(self, toks):
            # a NULL/empty token array contributes NO chunks — the
            # declarative twin's NULL size yields no sequence and the
            # oracle's generate_series over NULL is empty; fabricating
            # a 1-token chunk here diverged from both (r10 review)
            if not toks:
                return
            n = len(toks)
            for i, s in enumerate(range(0, max(n - 1, 0) + 1, stride)):
                yield i, min(chunk, n - s)

    spark.udtf.register("chunk_plan_udtf", ChunkPlan)
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", tokens(normalized(F.col("text"))).alias("toks")
    )
    d.createOrReplaceTempView("_docs_toks")
    return spark.sql(
        """
        SELECT d.lang,
               count(*) AS n_chunks,
               CAST(sum(c.chunk_tokens) AS BIGINT) AS total_chunk_tokens
        FROM _docs_toks d, LATERAL chunk_plan_udtf(d.toks) c
        GROUP BY d.lang ORDER BY d.lang
        """
    )


register(
    QuerySpec(
        "udtf_chunk_explode",
        _udtf_chunk_explode,
        _DOCS_CTE
        + f"""
, per_doc AS (
  SELECT lang,
         len(generate_series(0, greatest(len(toks) - 1, 0), {CHUNK_STRIDE}))
           AS n_chunks,
         list_sum(list_transform(
           generate_series(0, greatest(len(toks) - 1, 0), {CHUNK_STRIDE}),
           s -> least({CHUNK_TOKENS}, len(toks) - s))) AS chunk_tokens
  FROM docs_n WHERE toks IS NOT NULL
)
SELECT lang, CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(chunk_tokens) AS BIGINT) AS total_chunk_tokens
FROM per_doc GROUP BY lang ORDER BY lang
""",
        doc="Spark 4 Python UDTF surface: the window/stride chunker as a "
        "SQL LATERAL table function (by-value pickled class), verified "
        "against the declarative twin's oracle",
        tags=("extension", "udtf"),
    )
)


# ---------------------------------------------------------------------------
# n-gram novelty ratio per document (round 3)
# ---------------------------------------------------------------------------


def _ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the fraction of a doc's distinct word
    5-grams whose FIRST corpus occurrence (min doc_id) is this doc —
    the incremental-information metric dedup pipelines use to rank
    near-duplicates for retention (a doc that introduces nothing new
    scores ~0). One explode + two hash aggregates; the first-seen table
    is |distinct grams|, joined back on the gram key."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.split(normalized(F.col("text")), " ").alias("w")
    )
    # sequence(1, 0) is DESCENDING in Spark (the guard documented at
    # _substring_span_coverage): greatest(size-4, 0) produced [1, 0]
    # for docs with <= 4 tokens and slice(w, 0, 5) is a runtime error —
    # a short doc contributes NO 5-grams, matching the oracle's empty
    # generate_series(1, 0) (r10 review)
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(if(size(w) >= 5,"
                    " sequence(1, size(w) - 4), array()),"
                    " i -> concat_ws(' ', slice(w, i, 5)))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


register(
    QuerySpec(
        "doc_ngram_novelty",
        _ngram_novelty,
        r"""
WITH toks AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')
           AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[i:i+4], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(len(w) - 4, 0))) t(i)
),
first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
SELECT gr.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
FROM grams gr JOIN first f USING (g)
GROUP BY gr.doc_id ORDER BY gr.doc_id
""",
        doc="per-doc incremental-information score: fraction of distinct "
        "word 5-grams first seen in this doc (min-doc_id first-seen "
        "table joined back on the gram key)",
        tags=("extension", "curation", "novelty"),
    )
)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the corpus
# ---------------------------------------------------------------------------

BM25_TERMS = ("hash", "join", "stream")
BM25_K1, BM25_B = 1.2, 0.75


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of every document against a fixed term query
    — the ranked-retrieval step between exact TF-IDF
    (`text_tfidf_top_terms`) and embedding ANN (`similarity_*`). Per
    term: idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf saturated by k1
    and normalized by document length against the corpus average.

    Scale shape: one explode+aggregate pass for (doc, term) tf and doc
    lengths (map-side combinable), df and the (N, avgdl) stats are
    constant-size broadcast sides — no corpus-sized shuffle beyond the
    token aggregation. All inputs to the float math are exact integers
    (tf, df, dl, N), so both engines evaluate the identical IEEE
    expression; scores round to 4 dp."""
    d = _docs(spark, sf_dir).select(
        "doc_id", tokens(normalized(F.col("text"))).alias("toks")
    )
    tok = d.select(
        "doc_id", F.explode("toks").alias("term")
    ).where(F.length("term") > 0)
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    qtok = tok.where(F.col("term").isin(*BM25_TERMS))
    tf = qtok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = qtok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * (k1 + 1.0)) / denom
    return (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term_score), 4).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
    )


register(
    QuerySpec(
        "text_bm25_scores",
        _bm25_scores,
        _DOCS_CTE
        + f"""
, tok AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM docs_n)
  WHERE length(t) > 0
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         sum(dl) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('hash', 'join', 'stream')
  GROUP BY doc_id, term
),
df_t AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok
  WHERE term IN ('hash', 'join', 'stream')
  GROUP BY term
)
SELECT tf.doc_id,
       round(sum(
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         * (tf * ({BM25_K1} + 1.0))
         / (tf + {BM25_K1} * (1.0 - {BM25_B}
                              + {BM25_B} * dl.dl / avgdl))
       ), 4) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_hit
FROM tf
JOIN df_t USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id
""",
        doc="Okapi BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed "
        "3-term query: tf/df/dl/avgdl from one token pass, idf and "
        "length normalization in identical IEEE order on both engines",
        tags=("extension", "text", "bm25"),
    )
)


# ---------------------------------------------------------------------------
# exact substring-span dedup: duplicated-span coverage (round 4)
# ---------------------------------------------------------------------------

SPAN = 16  # token span length, the "50-token window" of the paper scaled
# to the fixture's short docs


def _substring_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup, the Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") metric: for every doc,
    the fraction of token positions covered by at least one SPAN-token
    window that occurs MORE THAN ONCE anywhere in the corpus (including
    within-doc repetition). Doc-level hash dedup misses these partial
    overlaps; this is the measurement that finds boilerplate shared
    across otherwise-distinct documents.

    Shape: one explode to (doc, start, 16-gram) — n_tokens rows per doc
    — a hash-aggregate gram frequency table (the same shuffle class as
    the MinHash shingle pass), an equi-join back on the gram, and a
    per-doc lag window to take the union length of fixed-width
    overlapping intervals: with starts sorted, each start adds
    ``min(SPAN, start - prev_start)`` newly covered positions, so the
    interval union needs no interval-merge loop. At 100 TB every stage
    is a uniform-key shuffle; the window is per-doc (bounded by doc
    length), never corpus-wide.
    """
    docs = _docs(spark, sf_dir)
    norm = normalized(F.col("text"))
    base = docs.select(
        "doc_id",
        F.split(norm, " ").alias("w"),
    ).select("doc_id", F.size("w").alias("n_tokens"), "w")
    # sequence(1, 0) is DESCENDING in Spark, so guard short docs with an
    # explicit empty array instead of greatest()
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"if(n_tokens >= {SPAN},"
                f" sequence(1, n_tokens - {SPAN} + 1), array())"
            )
        ).alias("i"),
        "w",
    ).select(
        "doc_id",
        "i",
        F.concat_ws(" ", F.slice("w", F.col("i"), SPAN)).alias("g"),
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    dups = (
        grams.join(freq, "g")
        .where(F.col("cnt") > 1)
        .select("doc_id", "i")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    cov = (
        dups.withColumn(
            "newcov",
            F.coalesce(
                F.least(F.lit(SPAN), F.col("i") - F.lag("i").over(win)),
                F.lit(SPAN),
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum("newcov").cast("long").alias("covered_tokens"),
        )
    )
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"
            ),
            F.round(
                F.coalesce("covered_tokens", F.lit(0))
                / F.col("n_tokens"),
                6,
            ).alias("coverage_r6"),
        )
        .orderBy("doc_id")
    )


register(
    QuerySpec(
        "dedup_substring_span_coverage",
        _substring_span_coverage,
        rf"""
WITH toks AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS w
  FROM documents
),
base AS (SELECT doc_id, len(w) AS n_tokens, w FROM toks),
grams AS (
  SELECT doc_id, i, array_to_string(w[i:i+{SPAN} - 1], ' ') AS g
  FROM base, unnest(generate_series(1, n_tokens - {SPAN} + 1)) t(i)
  WHERE n_tokens >= {SPAN}
),
freq AS (SELECT g, count(*) AS cnt FROM grams GROUP BY g),
dups AS (
  SELECT gr.doc_id, gr.i
  FROM grams gr JOIN freq f USING (g) WHERE f.cnt > 1
),
cov0 AS (
  SELECT doc_id, i,
         least({SPAN}, i - lag(i) OVER (PARTITION BY doc_id ORDER BY i))
           AS newcov
  FROM dups
),
cov AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_dup_spans,
         CAST(sum(coalesce(newcov, {SPAN})) AS BIGINT) AS covered_tokens
  FROM cov0 GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       coalesce(c.n_dup_spans, 0) AS n_dup_spans,
       coalesce(c.covered_tokens, 0) AS covered_tokens,
       round(CAST(coalesce(c.covered_tokens, 0) AS DOUBLE) / b.n_tokens,
             6) AS coverage_r6
FROM base b LEFT JOIN cov c USING (doc_id)
ORDER BY b.doc_id
""",
        doc="Exact substring-span dedup (Lee et al. 2022): per-doc "
        "fraction of token positions covered by a 16-token window that "
        "occurs >1 time in the corpus; interval union via per-doc lag "
        "window over sorted fixed-width starts",
        tags=("extension", "dedup", "curation"),
    )
)


# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard join (AllPairs/PPJoin, round 4)
# ---------------------------------------------------------------------------

_PF_T = 0.7  # Jaccard threshold (exact, cross-multiplied)


def _prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard >= 0.7) with prefix
    filtering — the AllPairs/PPJoin family (Bayardo et al. 2007,
    Xiao et al. 2008), the deterministic complement to MinHash-LSH: no
    probabilistic recall loss, candidates still come from an equi-join,
    never an all-pairs scan.

    The pruning rule: order every doc's distinct tokens by GLOBAL
    frequency (rarest first); two sets with Jaccard >= t must share at
    least one token in each other's first ``n - ceil(t*n) + 1`` tokens,
    so only those PREFIX tokens are exploded into the join. Rare tokens
    lead the ordering, so prefix postings are short and the candidate
    join stays near-linear. Exact dups are collapsed first (hash
    keeper election) — they are dedup_exact's job, and an identical
    cluster would quadratically inflate the pair output.

    Shape: vocabulary-ranked ordering (window over the VOCAB table,
    bounded by distinct tokens, not corpus rows), one prefix explode,
    one equi-join on the token, relational intersection counting, and
    an integer cross-multiplied threshold — no floats until the
    reported jaccard rounding.
    """
    docs = _docs(spark, sf_dir)
    norm = normalized(F.col("text"))
    base = docs.select("doc_id", norm.alias("norm"))
    reps = (
        base.groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "norm")
    )
    toks = reps.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("norm", " "))).alias("tok"),
    )
    toks = caching.persist_tracked(toks)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # rarest-first TOTAL order over the vocabulary via the distributed
    # global rank (web-scale corpora have billion-token vocabularies —
    # an unpartitioned row_number window here would single-task them;
    # VERDICT r4 rec #4)
    from ..operators.ranking import global_rank

    ranked = global_rank(
        freq, F.asc("df"), F.asc("tok"), alias="rk"
    ).select("tok", F.col("rk").cast("int").alias("rk"))
    by_doc = (
        toks.join(ranked, "tok")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("rk", "tok"))).alias("st")
        )
        .select(
            "doc_id",
            F.transform("st", lambda s: s["tok"]).alias("ts"),
            F.size("st").alias("n"),
        )
    )
    prefix = by_doc.select(
        "doc_id",
        F.explode(
            F.slice(
                "ts",
                1,
                F.col("n") - F.ceil(F.lit(_PF_T) * F.col("n")).cast("int")
                + 1,
            )
        ).alias("tok"),
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .distinct()
    )
    inter = (
        cand.join(toks.alias("t1"), F.col("doc1") == F.col("t1.doc_id"))
        .join(
            toks.alias("t2"),
            (F.col("doc2") == F.col("t2.doc_id"))
            & (F.col("t1.tok") == F.col("t2.tok")),
        )
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sizes = by_doc.select("doc_id", "n")
    out = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc1"), F.col("n").alias("n1")
            ),
            "doc1",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc2"), F.col("n").alias("n2")
            ),
            "doc2",
        )
        .where(
            F.lit(10) * F.col("n_inter")
            >= F.lit(7) * (F.col("n1") + F.col("n2") - F.col("n_inter"))
        )
    )
    return out.select(
        "doc1",
        "doc2",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        "n_inter",
        F.round(
            F.col("n_inter")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
            6,
        ).alias("jaccard_r6"),
    ).orderBy("doc1", "doc2")


register(
    QuerySpec(
        "dedup_prefix_filter_pairs",
        _prefix_filter_pairs,
        rf"""
WITH reps AS (
  SELECT min(doc_id) AS doc_id, norm FROM (
    SELECT doc_id,
           lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
    FROM documents
  ) GROUP BY norm
),
toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM reps, unnest(string_split(norm, ' ')) t(tok)
),
freq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
ranked AS (
  SELECT tok, row_number() OVER (ORDER BY df, tok) AS rk FROM freq
),
by_doc AS (
  SELECT doc_id, list(tok ORDER BY rk) AS ts, count(*) AS n
  FROM toks JOIN ranked USING (tok) GROUP BY doc_id
),
prefix AS (
  SELECT doc_id, t.tok
  FROM by_doc,
       unnest(ts[1 : n - CAST(ceil({_PF_T} * n) AS INTEGER) + 1]) t(tok)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc1, c.doc2, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN toks t1 ON t1.doc_id = c.doc1
  JOIN toks t2 ON t2.doc_id = c.doc2 AND t2.tok = t1.tok
  GROUP BY c.doc1, c.doc2
)
SELECT i.doc1, i.doc2,
       CAST(s1.n AS BIGINT) AS n1,
       CAST(s2.n AS BIGINT) AS n2,
       i.n_inter,
       round(CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter), 6)
         AS jaccard_r6
FROM inter i
JOIN by_doc s1 ON s1.doc_id = i.doc1
JOIN by_doc s2 ON s2.doc_id = i.doc2
WHERE 10 * i.n_inter >= 7 * (s1.n + s2.n - i.n_inter)
ORDER BY i.doc1, i.doc2
""",
        doc="exact set-similarity self-join (Jaccard >= 0.7) via prefix "
        "filtering (AllPairs/PPJoin): global rarest-first token order, "
        "prefix-only postings equi-join, relational intersection count, "
        "integer cross-multiplied threshold — the deterministic "
        "complement to MinHash-LSH with no recall loss",
        tags=("extension", "dedup", "similarity-join"),
    )
)


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal rank fusion of BM25 + embedding cosine
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard fusion constant (Cormack et al. 2009)


def _rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by RECIPROCAL RANK FUSION — the fusion step
    every RAG serving stack runs between its lexical and semantic arms:
    rank documents by BM25 (the fixed 3-term query) and by embedding
    cosine to the query vector (vec_id 0; doc_id and vec_id are 1:1 by
    fixture design), then fuse ``sum(1 / (60 + rank))`` over the UNION
    of both result lists (a doc missing from one arm simply contributes
    nothing there). Ranks are taken over ROUNDED scores with doc-id
    tiebreaks, so both engines rank identical bits; the fused score is
    two per-row divisions and an add, rounded at 6 dp.

    Scale: each arm's rank is a DISTRIBUTED global row_number
    (operators/ranking.global_rank: range-repartition, per-partition
    rank, constant-size offset cumsum — no data-sized unpartitioned
    window; VERDICT r4 rec #4), the fusion is a full outer join of two
    rank tables, and the final top-10 pre-reduces per partition before
    one k x partitions-sized global window (ranking.global_topk).
    """
    from .. import catalog as _catalog
    from ..operators import similarity as _sim
    from ..operators.ranking import global_rank, global_topk

    lex = _bm25_scores(spark, sf_dir).select("doc_id", "bm25")
    lexr = global_rank(
        lex, F.desc("bm25"), F.asc("doc_id"), alias="lex_rank"
    ).select("doc_id", "lex_rank")
    emb = _sim.with_norm(_emb(spark, sf_dir))
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("e").alias("qe"), F.col("norm").alias("qnorm")
    )
    sem = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            F.try_divide(
                _sim._dot(F.col("qe"), F.col("e")),
                F.col("qnorm") * F.col("norm"),
            ),
            6,
        ).alias("cos"),
    )
    semr = global_rank(
        sem, F.desc("cos"), F.asc("doc_id"), alias="sem_rank"
    ).select("doc_id", "sem_rank")
    fused = (
        lexr.join(semr, "doc_id", "full")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_r6"),
        )
    )
    return (
        global_topk(fused, 10, F.desc("rrf_r6"), F.asc("doc_id"), alias="rk")
        .select("doc_id", "lex_rank", "sem_rank", "rrf_r6")
        .orderBy(F.desc("rrf_r6"), "doc_id")
    )


register(
    QuerySpec(
        "retrieval_rrf_hybrid",
        _rrf_hybrid,
        _DOCS_CTE
        + f"""
, tok AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM docs_n)
  WHERE length(t) > 0
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         sum(dl) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ('hash', 'join', 'stream')
  GROUP BY doc_id, term
),
df_t AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok
  WHERE term IN ('hash', 'join', 'stream')
  GROUP BY term
),
bm AS (
  SELECT tf.doc_id,
         round(sum(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({BM25_K1} + 1.0))
           / (tf + {BM25_K1} * (1.0 - {BM25_B}
                                + {BM25_B} * dl.dl / avgdl))
         ), 4) AS bm25
  FROM tf
  JOIN df_t USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
lexr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS lex_rank
  FROM bm
),
ecorpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
),
en AS (
  SELECT vec_id, e,
         sqrt(list_sum(list_transform(generate_series(1, len(e)),
              i -> e[i] * e[i]))) AS nrm
  FROM ecorpus
),
eq AS (SELECT e AS qe, nrm AS qn FROM en WHERE vec_id = 0),
sem AS (
  SELECT c.vec_id AS doc_id,
         round(list_sum(list_transform(generate_series(1, len(c.e)),
               i -> q.qe[i] * c.e[i])) / (q.qn * c.nrm), 6) AS cos
  FROM en c, eq q
),
semr AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT)
           AS sem_rank
  FROM sem
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
         round(coalesce(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
               + coalesce(1.0 / ({_RRF_K} + s.sem_rank), 0.0), 6) AS rrf_r6
  FROM lexr l FULL JOIN semr s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_r6 FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_r6 DESC, doc_id) AS rk
  FROM fused
) WHERE rk <= 10
ORDER BY rrf_r6 DESC, doc_id
""",
        doc="hybrid retrieval by reciprocal rank fusion (k=60): BM25 "
        "lexical arm + embedding-cosine semantic arm fused over the "
        "union of result lists — ranks over rounded scores with doc-id "
        "tiebreaks so both engines rank identical bits; the RAG-stack "
        "fusion step between the engine's text and vector retrieval",
        tags=("extension", "retrieval", "hybrid"),
    )
)
