"""Deduplication operators for LLM-data pipelines (BASELINE.json
north-star): exact, fingerprint-blocked n-gram Jaccard, MinHash+LSH,
and SimHash — Spark-first implementations.

Algorithm shapes (standard corpus-dedup literature — Broder '97 MinHash,
Charikar '02 SimHash — as popularized in web-scale LLM corpus pipelines):

- **exact**: hash-groupBy on normalized text; one shuffle on the hash.
- **ngram_jaccard**: block on a normalized-prefix fingerprint, pair
  within blocks, verify with character-3-gram Jaccard. The block join is
  an equi-join (shuffle on the fingerprint), never an O(n²) cross join.
- **minhash_lsh**: 16 md5-based min-hashes per doc → 4 bands of 4 →
  candidate pairs share a band hash (equi-join on band) → verify with
  true Jaccard. Hash-based, seed-free, so the DuckDB oracle reproduces
  it bit-for-bit.
- **simhash**: 32-bit fingerprint via bit-weighted token md5s; hamming
  neighbors become candidate pairs (pairing not materialized here —
  fingerprints themselves are the oracle-checked artifact).

Scale: every stage is explode → hash → groupBy/equi-join; no cross
joins, no driver-side loops. Band/bucket keys distribute uniformly (md5)
so the shuffles are skew-free by construction. At 100 TB, dedup runs as
a pipeline of hash-partitioned stages; candidate verification touches
only the (tiny) within-bucket pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from .text import fingerprint, normalized, shingles, shingles_raw, text_hash
from .width import spread

N_MINHASH = 16
N_BANDS = 4
BAND_WIDTH = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.5
JACCARD_DECIMALS = 6  # _jaccard's rounding; _size_ratio_ok's bound uses it

# Universal-hash MinHash family: h_s(x) = (a_s·h(x) + b_s) mod p over a
# single 31-bit base hash h(x) (md5-prefix). One md5 per shingle instead
# of N_MINHASH — the permutations are integer mul/add/mod, exact in any
# engine's int64 (a_s, h < 2^31 → product < 2^62). Fixed LCG-derived
# coefficients; seed-free so the DuckDB oracle replays bit-for-bit.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1
MINHASH_COEFFS: list[tuple[int, int]] = [
    (
        ((2 * s + 1) * 1_103_515_245) % MINHASH_PRIME,
        ((s + 12_345) * 12_820_163) % MINHASH_PRIME,
    )
    for s in range(N_MINHASH)
]


def norm_docs(documents: DataFrame) -> DataFrame:
    """documents + normalized text/shingle columns (the shared prefix of
    every dedup pipeline)."""
    norm = normalized(F.col("text"))
    # null guard on the RAW column: pushes to the scan as a plain
    # isnotnull(text) parquet filter (a guard on `norm` would drag the
    # whole regexp/lower chain into the scan filter). The corpus arrives
    # as one small parquet file, one input split: spread it so the
    # expression-heavy normalize/shingle chain uses every core.
    return spread(documents.where(F.col("text").isNotNull())).select(
        "doc_id",
        "lang",
        norm.alias("norm"),
        text_hash(norm).alias("text_hash"),
        fingerprint(norm).alias("fp40"),
        shingles(norm).alias("sh"),
    )


def exact_dup_summary(documents: DataFrame) -> DataFrame:
    """Exact dedup accounting over the DEDUPABLE corpus: ``n_docs``
    counts documents with non-null text (``norm_docs`` excludes null
    texts before the agg — r10 review: don't reconcile it against the
    raw table count on a corpus with nulls), plus unique normalized
    texts and the redundant doc count."""
    d = norm_docs(documents)
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text_hash").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text_hash")).alias("n_dup_docs"),
    )


def fingerprint_dup_groups(documents: DataFrame) -> DataFrame:
    """Prefix-fingerprint blocking groups with >1 member: the cheap
    near-dup report (fingerprint, member count, keeper = min doc_id)."""
    d = norm_docs(documents)
    return (
        d.groupBy("fp40")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("dup_count") > 1)
        .orderBy("fp40")
    )


def _jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Exact Jaccard of two DISTINCT element arrays (every call site
    passes ``shingles()`` = array_distinct output, no NULL elements).

    r15 (guide §1.2 per-task work): |a ∪ b| = |a| + |b| − |a ∩ b| for
    set-valued arrays, so the union is three int ops instead of a
    second per-row hash-set build over ~150 strings — array_union cost
    equals array_intersect and the verify stages evaluate _jaccard per
    candidate PAIR (59k pairs × 2 set builds → 1 at sf0.1,
    curation_decontaminate_neardup's dominant stage: measured 5.2 s →
    see OPTIMIZATION_r15.md). Integer sizes and the single rounded
    division are bit-identical to the two-set form."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.round(inter / union, JACCARD_DECIMALS)


def _size_ratio_ok(
    a: F.Column, b: F.Column, threshold: float = JACCARD_THRESHOLD
) -> F.Column:
    """Jaccard-threshold size prefilter (r15, guide §1.2): for sets,
    J(a,b) ≤ min(|a|,|b|) / max(|a|,|b|), and ``_jaccard``'s rounding
    moves J by at most half a unit in its last decimal, so a pair with
    min < (threshold − 10^-JACCARD_DECIMALS)·max is guaranteed to fail
    the ``jaccard >= threshold`` filter every caller applies — dropping
    it FIRST skips the per-pair hash-set intersect (the dominant
    per-row cost of every verify join). Result-identical for any
    threshold in (0, 1]: the bound is derived, never hand-scaled."""
    bound = threshold - 10.0**-JACCARD_DECIMALS
    return F.least(F.size(a), F.size(b)) >= F.lit(bound) * F.greatest(
        F.size(a), F.size(b)
    )


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Near-dup pairs: block on the prefix fingerprint (equi-join — no
    cross join), verify char-3-gram Jaccard ≥ threshold."""
    # both sides carry the shingle array — the payload shape whose
    # ~20x shuffle-stat compression let AQE broadcast-demote a
    # corpus-sized side in the r6 100x smoke (driver OOM). A
    # corpus-vs-corpus self-join is never broadcastable: pin the
    # strategy (same fix as the MinHash verify join below).
    d = norm_docs(documents).select("doc_id", "fp40", "sh").hint(
        "shuffle_hash"
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(b, F.col("a.fp40") == F.col("b.fp40")).where(
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    return (
        pairs.where(_size_ratio_ok(F.col("a.sh"), F.col("b.sh")))
        .select(
            F.col("a.doc_id").alias("a_doc_id"),
            F.col("b.doc_id").alias("b_doc_id"),
            _jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("a_doc_id", "b_doc_id")
    )


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """16 seed-salted md5 min-hashes per doc + 4 LSH band hashes.

    min over the md5 hex strings is a lexicographic min — deterministic
    and exactly reproducible in SQL (no RNG, no permutation tables).

    Plan shape matters here: signatures are computed as explode(sh) →
    16 partial+final ``min`` hash-aggregations, NOT as a per-row nested
    higher-order function. The Aggregate node is an optimizer barrier —
    downstream self-joins can't inline (and re-evaluate) the md5 work
    per candidate pair, which is exactly the blowup that makes the naive
    expression shape O(pairs × shingles) instead of O(corpus shingles).
    Map-side combine keeps the shuffle at 16 hex strings per doc.

    The result is not spread by ``doc_id`` here, but by the consumers
    that persist it and verify pairs over it (assign, incremental,
    recall, band-tradeoff: each measured 20-30% faster in r15). The
    band-star edge path (``dedup_components``) measured SLOWER with
    the extra exchange, because its band window re-shuffles at once.
    """
    # norm_docs already null-guards on raw text (cheap scan filter); the
    # greatest(...,1) bound in shingles() means sh is never empty, so no
    # size(sh) filter is needed — one on the computed column would be
    # pushed into the (single-split) file scan and evaluate the whole
    # shingle transform serially before norm_docs' spread.
    d = norm_docs(documents)
    # explode the RAW shingle runs — min() is multiset-insensitive, and
    # exploding the distinct array would re-run its O(len²) dedup per
    # emitted row (the single biggest cost in the naive pipeline)
    ex = d.select("doc_id", F.explode(shingles_raw(F.col("norm"))).alias("x"))
    # one md5 per (doc, shingle) row → 31-bit base hash; the N_MINHASH
    # signatures are universal-hash permutations of it (integer-only).
    # min(long) has a mutable agg buffer → HashAggregate with map-side
    # combine (min(string) would fall back to Sort+SortAggregate), and
    # the md5/conv work is O(shingles), not O(shingles × N_MINHASH).
    base = (
        F.conv(F.substring(F.md5(F.col("x")), 1, 8), 16, 10).cast("long")
        % MINHASH_PRIME
    )
    hashed = ex.select("doc_id", base.alias("h"))
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(
                f"_mh{s}"
            )
            for s, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )
    mh = F.array(*[F.col(f"_mh{s}") for s in range(N_MINHASH)])
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"_mh{b * BAND_WIDTH + j}").cast("string")
                        for j in range(BAND_WIDTH)
                    ],
                )
            )
            for b in range(N_BANDS)
        ]
    )
    # shuffle-hash, never broadcast: BOTH sides scale with the corpus,
    # and the signature table's compressed shuffle stats undersell its
    # in-memory size (16 longs/row builds ~20x bigger than its shuffle
    # bytes), so AQE's 64MB broadcast demotion misfires at scale —
    # measured at the 100x smoke: auto-broadcast of a corpus-sized side
    # aborted the whole query with a driver broadcast OOM.
    return (
        d.join(sig.hint("shuffle_hash"), "doc_id")
        .withColumn("mh", mh)
        .withColumn("bands", bands)
        .drop(*[f"_mh{s}" for s in range(N_MINHASH)])
    )


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, verified with true Jaccard.

    Plan: posexplode bands → equi-join on (band_idx, band_hash) →
    distinct pair → join back shingles → verify. All shuffles are on
    uniform hash keys.
    """
    # one materialization feeding the self-joined band explode and both
    # verify branches (see minhash_dedup_assign for the scale rationale)
    per_doc = (
        persist_tracked(
        minhash_signatures(documents).select("doc_id", "sh", "bands")
    )
    )
    bands = per_doc.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_doc_id"),
            F.col("b.doc_id").alias("b_doc_id"),
        )
        .distinct()
    )
    # shuffle-hash on the shingle-payload sides: a doc's shingle array
    # is KBs in memory but compresses ~20x in shuffle stats, so AQE can
    # "broadcast-demote" a corpus-sized side at scale (measured 100x
    # smoke: driver broadcast OOM). Neither side of a corpus-vs-corpus
    # verify join is ever broadcastable — pin the strategy.
    sh = per_doc.select("doc_id", "sh").hint("shuffle_hash")
    return (
        cand.join(sh.withColumnRenamed("doc_id", "a_doc_id").withColumnRenamed("sh", "sh_a"), "a_doc_id")
        .join(sh.withColumnRenamed("doc_id", "b_doc_id").withColumnRenamed("sh", "sh_b"), "b_doc_id")
        .where(_size_ratio_ok(F.col("sh_a"), F.col("sh_b")))
        .select(
            "a_doc_id",
            "b_doc_id",
            _jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("a_doc_id", "b_doc_id")
    )


EMB_COSINE_THRESHOLD = 0.4
# Constant per-band-bucket anchor count for the capped edge builder:
# bounds candidate volume at cap·k per bucket (linear in duplication
# factor) instead of k²/2. 8 anchors × 4 OR'd bands keeps clone floods
# and ordinary near-dup clusters connected while surviving pathological
# duplication — the r7 100x copy-blowup stress that killed the uncapped
# all-pairs closure (SCALING.md).
EMB_BUCKET_CAP = 8
EMB_N_BANDS = 4  # 32 hyperplanes as 4 bands of 8 sign bits (banded LSH)
EMB_N_PLANES = 32


def _embedding_banded(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared banded-hyperplane-LSH front half: (corpus with norms,
    per-(vec_id, band_idx) band signatures). Plan shape: corpus ⋈
    broadcast(32-row plane table) → one deterministic left-fold dot per
    (vector, plane) row → integer bit/shift aggregation (exact int
    arithmetic, order-insensitive). Hyperplanes live in a broadcast
    TABLE, not 32×64 literal nodes baked into a projection — the literal
    form costs seconds of driver-side plan compile and re-pays it per
    plan branch, and a table is the only shape a real trained codebook
    fits in."""
    from .similarity import _as_double, _dot, with_norm

    planes = embeddings.where(F.col("vec_id").between(1, EMB_N_PLANES)).select(
        F.col("vec_id").alias("plane_id"), _as_double(F.col("embedding")).alias("pe")
    )
    width = EMB_N_PLANES // EMB_N_BANDS
    corpus = persist_tracked(with_norm(embeddings))
    bits = corpus.join(F.broadcast(planes)).select(
        "vec_id",
        (((F.col("plane_id") - 1) / width).cast("int")).alias("band_idx"),
        F.when(_dot(F.col("e"), F.col("pe")) > 0, 1).otherwise(0).alias("bit"),
        F.expr(f"shiftleft(1, int((plane_id - 1) % {width}))").alias("w"),
    )
    banded = bits.groupBy("vec_id", "band_idx").agg(
        F.sum(F.col("bit") * F.col("w")).cast("int").alias("band_sig")
    )
    return corpus, banded


def _verified_cosine(
    cand: DataFrame, corpus: DataFrame, threshold: float
) -> DataFrame:
    """Verify candidate (a_vec_id, b_vec_id) pairs with the exact cosine.

    The embedding-array payload side of a corpus-vs-corpus verify join:
    in-memory double arrays run ~3-4x the compressed shuffle stats, so
    AQE can broadcast-demote it exactly like the shingle payload in the
    r6 100x smoke — pin the strategy (dedup.py:283 pattern)."""
    from .similarity import _dot

    n = corpus.select("vec_id", "e", "norm").hint("shuffle_hash")
    return (
        cand.join(
            n.select(
                F.col("vec_id").alias("a_vec_id"),
                F.col("e").alias("e_a"),
                F.col("norm").alias("n_a"),
            ),
            "a_vec_id",
        )
        .join(
            n.select(
                F.col("vec_id").alias("b_vec_id"),
                F.col("e").alias("e_b"),
                F.col("norm").alias("n_b"),
            ),
            "b_vec_id",
        )
        .select(
            "a_vec_id",
            "b_vec_id",
            F.round(
                # try_divide: a zero-norm (all-zero) embedding must yield
                # NULL (DuckDB's x/0), not an ANSI DIVIDE_BY_ZERO crash
                F.try_divide(
                    _dot(F.col("e_a"), F.col("e_b")),
                    F.col("n_a") * F.col("n_b"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def embedding_capped_pair_edges(
    embeddings: DataFrame,
    threshold: float = EMB_COSINE_THRESHOLD,
    cap: int = EMB_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup EDGES with a constant per-band-bucket candidate cap —
    the LSH-hygiene variant for downstream transitive closure.

    The uncapped all-pairs builder (``embedding_cosine_pairs``) declares
    quadratic output: a bucket of k clones yields k(k-1)/2 pairs, so a
    100x copy-blowup (spam flood, boilerplate storm) turns each vector
    into a 100-clone cluster and the edge list into ~5000x the base —
    measured as a 75 GB spill death at the r7 100x stress point
    (SCALING.md). For CONNECTIVITY, all-pairs edges are redundant: it is
    enough that every bucket member reaches a bounded set of bucket
    ANCHORS. So: rank members within each (band_idx, band_sig) bucket by
    vec_id, take the ``cap`` smallest as anchors, and emit only
    anchor-member candidate edges — ≤ cap·k per bucket, linear in
    duplication factor. Clone floods stay connected (every clone pairs
    with the same anchors at cosine 1.0); what the cap trades away is
    recall on buckets whose members are near-dups of each other but not
    of any anchor — standard LSH candidate-cap semantics, mirrored
    exactly in the DuckDB oracle.

    Returns ``(edges, overflow)``: verified cosine-≥-threshold edges,
    plus a 1-row truncation-accounting frame (``overflow_buckets`` =
    number of band buckets where candidate generation actually LOST
    pairs). That is population > cap + 1, not > cap: in a bucket of
    exactly cap+1 members the single non-anchor still pairs with every
    anchor, so every pair touches an anchor and nothing is truncated —
    only a second non-anchor creates a non-anchor/non-anchor pair the
    cap drops. The accounting column is the honesty contract: a capped
    audit must SAY it capped.

    The rank window partitions by the band-bucket key — bounded bucket
    populations per partition, never an unpartitioned data-sized window.
    """
    corpus, banded = _embedding_banded(embeddings)
    banded = persist_tracked(banded)
    w = Window.partitionBy("band_idx", "band_sig").orderBy("vec_id")
    ranked = banded.withColumn("rnk", F.row_number().over(w))
    anchors = ranked.where(F.col("rnk") <= cap).select(
        "band_idx", "band_sig", F.col("vec_id").alias("a_vec_id")
    )
    # anchor ⋈ bucket members: both sides are the (tiny, int-only) band
    # table; ≤ cap rows per bucket on the anchor side bounds the output.
    cand = (
        anchors.join(banded.hint("shuffle_hash"), ["band_idx", "band_sig"])
        .where(F.col("a_vec_id") < F.col("vec_id"))
        .select("a_vec_id", F.col("vec_id").alias("b_vec_id"))
        .distinct()
    )
    edges = _verified_cosine(cand, corpus, threshold)
    overflow = (
        banded.groupBy("band_idx", "band_sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            # coalesce: sum over ZERO buckets (empty input) is NULL,
            # and the honesty contract's no-truncation reading is 0 —
            # a downstream `overflow_buckets == 0` check on NULL would
            # silently misreport truncation (r10 review)
            F.coalesce(
                F.sum(F.when(F.col("n") > cap + 1, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("overflow_buckets")
        )
    )
    return edges, overflow


def embedding_cosine_pairs(
    embeddings: DataFrame, threshold: float = EMB_COSINE_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded-hyperplane-LSH blocked.

    Plan: 32 deterministic hyperplanes → per-vector 4 band signatures of
    8 sign bits → posexplode → equi-join on (band_idx, band_sig) — never
    a cross join — → distinct pair → exact cosine ≥ threshold. Banding
    trades candidate volume for recall exactly like MinHash banding:
    8-bit bands give ~256 buckets per band (bucket population n/256, so
    candidate volume shrinks quadratically vs 4-bit bands) while
    OR-amplification across 4 bands keeps near-dup recall high
    (collision prob ≥ 1-(1-p^8)^4 ≈ 0.998 at cos 0.99). At 100 TB the
    pair space is the within-band collision set on uniform keys, never
    O(n²).
    """
    corpus, banded = _embedding_banded(embeddings)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_vec_id"), F.col("b.vec_id").alias("b_vec_id")
        )
        .distinct()
    )
    return _verified_cosine(cand, corpus, threshold).orderBy(
        "a_vec_id", "b_vec_id"
    )


def minhash_dedup_assign(documents: DataFrame) -> DataFrame:
    """MinHash LSH dedup as per-doc KEEPER ASSIGNMENT — the linear-output
    scale path (vs ``minhash_lsh_pairs``' all-pairs report, whose output
    is quadratic in dup-cluster size: a 1,500-doc identical cluster emits
    ~1.1M pairs but only 1,499 assignments).

    Candidates are star-shaped: within each (band_idx, band_hash) bucket
    only (bucket-min doc, doc) edges are generated — ≤ N_BANDS candidate
    edges per doc regardless of cluster size — then verified with true
    Jaccard; each doc reports its smallest verified keeper. This is the
    standard web-corpus dedup shape (cluster representative election),
    linear in corpus size end-to-end.
    """
    # materialize the per-doc signature table once (one narrow row per
    # doc: id + shingle set + band hashes) and fan it into all three
    # consumers — the band explode and BOTH sides of the verify join.
    # Without it each branch re-runs the whole normalize→shingle→md5
    # pipeline (Spark shares no subtrees across join branches); at
    # 100 TB this intermediate is exactly the signature table a web-scale
    # dedup writes to storage between the sketch and cluster passes.
    # Spread by doc_id (r15): compressed shuffle stats undersell the
    # shingle/signature arrays ~20x, so AQE coalesced the persisted
    # signature build to 1-3 partitions at bench scale, and every band
    # explode, truth join and per-pair verify downstream ran 1-3 wide.
    per_doc = persist_tracked(
        spread(
            minhash_signatures(documents).select("doc_id", "sh", "bands"),
            "doc_id",
        )
    )
    return minhash_assign_from_signatures(per_doc)


def minhash_assign_from_signatures(per_doc: DataFrame) -> DataFrame:
    """Keeper assignment over an already-materialized signature table
    ``(doc_id, sh, bands)`` — the second half of
    ``minhash_dedup_assign``, factored so the signature table can come
    from storage or an INCREMENTAL union (base signatures ∪ newly
    sketched delta) instead of a full re-sketch: per-doc signatures are
    pure functions of the text, so base ∪ delta is bit-identical to the
    full recompute — the property ``dedup_incremental_signatures``
    oracle-checks against the full-recompute SQL. The caller persists
    ``per_doc`` (it feeds the band explode and both verify-join sides).
    """
    bands = per_doc.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    # keeper election via window min, not groupBy+self-join: one pass
    # over bands (one shuffle on the band key)
    w = Window.partitionBy("band_idx", "band_hash")
    cand = (
        bands.withColumn("keeper_doc_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("keeper_doc_id"))
        .select("doc_id", "keeper_doc_id")
        .distinct()
    )
    # shuffle-hash for the same reason as minhash_lsh_pairs' verify
    # join: shingle payloads undersell their in-memory size to AQE, and
    # no corpus-sized side may ever be broadcast (100x smoke OOM).
    sh = per_doc.select("doc_id", "sh").hint("shuffle_hash")
    verified = (
        cand.join(sh, "doc_id")
        .join(
            sh.select(
                F.col("doc_id").alias("keeper_doc_id"), F.col("sh").alias("sh_k")
            ),
            "keeper_doc_id",
        )
        .where(_size_ratio_ok(F.col("sh"), F.col("sh_k")))
        .select(
            "doc_id",
            "keeper_doc_id",
            _jaccard(F.col("sh"), F.col("sh_k")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return (
        verified.groupBy("doc_id")
        .agg(
            F.min("keeper_doc_id").alias("keeper_doc_id"),
            F.expr("min_by(jaccard, keeper_doc_id)").alias("jaccard"),
        )
        .orderBy("doc_id")
    )


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """32-bit SimHash per doc: token md5 → 32-bit int; per bit, sum ±1
    over tokens; positive sums set the bit.

    Spark shape: explode(tokens) × explode(bits) → two hash-partitioned
    aggregations — linear in corpus token count, no pairwise work.
    """
    d = norm_docs(documents)
    # explode raw tokens + row-level distinct: an array_distinct under
    # explode re-evaluates per emitted row (see minhash_signatures)
    toks = d.select(
        "doc_id", F.explode(F.split("norm", " ")).alias("t")
    ).distinct()
    hashed = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    bits = hashed.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
    ).select(
        "doc_id",
        "b",
        F.when(
            F.expr("(h div CAST(pow(2, b) AS LONG)) % 2") == 1, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("contrib"),
    )
    per_bit = bits.groupBy("doc_id", "b").agg(F.sum("contrib").alias("s"))
    return (
        per_bit.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("CAST(pow(2, b) AS LONG)")).otherwise(
                    F.lit(0)
                )
            ).alias("simhash")
        )
        .orderBy("doc_id")
    )


def minhash_band_star_edges(documents: DataFrame) -> DataFrame:
    """Linear-size edge set with the SAME connectivity as the full LSH
    band-collision graph: within each (band, hash) bucket every member
    links to the bucket MIN doc (star), so bucket cliques — quadratic in
    cluster size — are replaced by ≤ N_BANDS edges per doc. Components
    of the star union equal components of the clique union."""
    per_doc = persist_tracked(
        minhash_signatures(documents).select("doc_id", "bands")
    )
    bands = per_doc.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    roots = bands.groupBy("band_idx", "band_hash").agg(
        F.min("doc_id").alias("root")
    )
    return (
        bands.join(roots, ["band_idx", "band_hash"])
        .where(F.col("doc_id") != F.col("root"))
        .select("doc_id", "root")
        .distinct()
    )


def dedup_components(documents: DataFrame, max_iter: int = 30) -> DataFrame:
    """TRANSITIVE dup clusters: connected components of the MinHash band
    graph via iterative min-label propagation — the clustering step a
    web-scale dedup runs after candidate generation (keeper election in
    ``minhash_dedup_assign`` is the one-hop approximation; this is the
    fixpoint).

    Iterative-algorithm posture: per round one *hook* step (min over
    neighbours' labels — an equi-join + min-agg over the linear star
    edges) followed by one *shortcut* step (pointer jump:
    ``label := label[label]``, a self-equi-join of the label table) —
    the Shiloach–Vishkin shape that converges in O(log diameter) rounds
    instead of O(diameter) for hook-only propagation (halving the round
    count was VERDICT r2 rec #7; at sf0.1 each round is latency-bound,
    so rounds ≈ wall-clock). ``localCheckpoint`` truncates lineage so
    the plan doesn't deepen with rounds (on a cluster: checkpoint to
    durable storage instead); convergence is detected with a monotone
    scalar (labels only decrease ⇒ sum(label) strictly decreases until
    the fixpoint) — one tiny action per round, the legitimate driver
    scalar of an iterative algorithm. The shortcut is label-safe: every
    label value is itself a doc_id present in the table (labels are mins
    over doc ids), so the jump join is total.
    """
    edges = minhash_band_star_edges(documents)
    labels = components_from_edges(
        edges.select(F.col("doc_id").alias("a"), F.col("root").alias("b")),
        max_iter=max_iter,
    )
    return (
        labels.groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_doc_id"),
        )
        .orderBy("component_id")
    )


def components_from_edges(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components of an undirected edge list ``(a, b)`` →
    ``(node, label)`` with label = the component's minimum node id.

    The iteration core of ``dedup_components`` (hook + pointer-jump
    rounds, see that docstring), factored over a generic edge list so
    the algorithm is property-testable against a reference union-find
    (tests/test_components_property.py) independent of the MinHash
    candidate generation. Isolated nodes (absent from ``edges``) are
    out of scope — callers' edge lists define the node universe."""
    sym = persist_tracked(
        edges.select(F.col("a"), F.col("b")).unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_iter):
        labels = cc_round(sym, labels).localCheckpoint()
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def cc_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One hook + pointer-jump round of ``components_from_edges``,
    factored so the per-round PLAN is assertable by tests: the dedup
    claim of the fused round (r14) is that the hooked subtree on both
    sides of the jump join is served by ReuseExchange, not recomputed —
    a silent reuse break would double per-round work with no
    correctness signal (ADVICE r14)."""
    # hook: pull the min label across edges
    pulled = (
        sym.join(labels, sym.a == labels.node)
        .groupBy(F.col("b").alias("node"))
        .agg(F.min("label").alias("nbr_min"))
    )
    hooked = (
        labels.alias("l")
        .join(pulled.alias("p"), "node", "left")
        .select(
            "node",
            F.least(
                F.col("l.label"),
                F.coalesce(F.col("p.nbr_min"), F.col("l.label")),
            ).alias("label"),
        )
    )
    # shortcut (pointer jump): label := label's label — doubles the
    # hop distance covered per round. r14 (guide §2.4): hook +
    # shortcut compose into ONE materialization per round — the
    # hooked subtree appears on both sides of the jump join, and
    # Spark's ReuseExchange serves the second side from the first's
    # shuffle output, so fusing halves the scheduled jobs per round
    # (2 localCheckpoints + 1 collect → 1 + 1) without recomputing
    # the hook.
    lut = hooked.select(
        F.col("node").alias("lut_id"), F.col("label").alias("lut_label")
    )
    return hooked.join(lut, hooked.label == lut.lut_id, "left").select(
        "node",
        F.coalesce(F.col("lut_label"), F.col("label")).alias("label"),
    )
