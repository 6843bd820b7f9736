"""Similarity search over embedding columns (BASELINE.json north-star):
brute-force cosine top-k as the exact baseline, and a hyperplane-LSH
bucketed variant as the scale path.

Embeddings are ``array<float>``; all arithmetic is promoted to double
element-wise and folded left-to-right (``F.aggregate``) so the result is
a deterministic IEEE sequence the DuckDB oracle reproduces; cosines are
rounded to 6 dp before ranking to absorb any engine-level fold
difference, with doc-id tie-breaks for a total order.

Every cosine denominator goes through ``F.try_divide``: a zero-norm
vector (all-zero embedding — absent from the fixture, routine in real
extractions) zeroes the norm product, and Spark 4's default ANSI mode
turns that division into a query-killing DIVIDE_BY_ZERO instead of a
NULL. ``try_divide`` restores the DuckDB twin's x/0 → NULL semantics,
so a zero vector ranks nowhere rather than crashing the scan (r10
review).

Scale posture:
- brute force: corpus × queries via **broadcast** of the (small) query
  set — an embarrassingly parallel map over corpus partitions, no
  shuffle. Cost O(|corpus|·|queries|·dim): the right baseline, and the
  right answer when |queries| is small.
- LSH: 8 deterministic hyperplanes (taken from the corpus itself —
  seed-free) → 256 sign-pattern buckets; candidates = same-bucket rows
  (equi-join on bucket id), then exact cosine within the bucket. At
  100 TB this turns the scan-per-query into a bucket-pruned lookup, the
  classic IVF/LSH trade: recall loss (measured against the brute-force
  baseline) for ~2^nplanes less compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from .width import spread

TOP_K = 5
QUERY_MOD = 100  # query set = vec_id % 100 == 0
N_PLANES = 8  # hyperplanes = embeddings of vec_id 1..8

# The embeddings table arrives as one small parquet file, one input
# split: every builder spreads it before its per-vector arithmetic.


def _as_double(c: F.Column) -> F.Column:
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Left-to-right fold of element products — deterministic order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(embeddings: DataFrame) -> DataFrame:
    e = _as_double(F.col("embedding"))
    return spread(embeddings).select(
        "vec_id",
        "label",
        e.alias("e"),
        F.sqrt(_dot(e, e)).alias("norm"),
    )


def cosine_topk_bruteforce(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id %
    QUERY_MOD == 0), self-match included at rank 1."""
    corpus = with_norm(embeddings)
    queries = corpus.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                _dot(F.col("qe"), F.col("e")),
                F.col("qnorm") * F.col("norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def centroids(embeddings: DataFrame) -> DataFrame:
    """Deterministic IVF coarse quantizer: element-wise mean embedding
    per ``label`` (the fixture's stand-in for a trained k-means — in
    production the quantizer is trained offline and broadcast, exactly
    as here). Means go through decimal sums so both engines produce
    bit-identical centroids regardless of aggregation order.

    NULL labels are excluded: a trained quantizer has no NULL cell.
    An unlabeled vector may still be INDEXED (ivf_assign sends it to
    its nearest real centroid) but must not spawn a phantom centroid —
    a NULL cell_id in the argmax tie-break orders differently per
    engine (Spark ASC = NULLS FIRST vs DuckDB NULLS LAST) and its
    self-centroid swallowed the vector into an unjoinable NULL cell
    (r11 dirty-fixture catch)."""
    ex = spread(embeddings.where(F.col("label").isNotNull())).select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v")
    )
    per_dim = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))).alias(
            "m"
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("cell_id"),
            F.transform("pm", lambda s: s["m"]).alias("c"),
        )
    )


def ivf_assign(embeddings: DataFrame) -> DataFrame:
    """Assign every vector to its NEAREST centroid (not its label — real
    IVF assignment): broadcast the tiny centroid table, score all
    (vector, centroid) pairs, keep the argmax-cosine cell with a
    deterministic tie-break. One broadcast join + one window over
    n_vectors × n_cells rows; no shuffle of the corpus itself."""
    cen = centroids(embeddings)
    cnorm = F.sqrt(_dot(F.col("c"), F.col("c")))
    scored = with_norm(embeddings).crossJoin(F.broadcast(cen)).select(
        "vec_id",
        "e",
        "norm",
        "cell_id",
        F.round(
            F.try_divide(_dot(F.col("e"), F.col("c")), F.col("norm") * cnorm), 6
        ).alias("cscore"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cscore").desc(), F.col("cell_id").asc()
    )
    # materialized once: the probe below consumes the assignment on
    # both sides of its cell equi-join, and the centroid + argmax
    # pipeline must not re-run per branch (at scale this is the
    # stored IVF index, built once, probed many times)
    return persist_tracked(
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "e", "norm", "cell_id")
    )


def cosine_topk_ivf(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k, IVF style: queries probe only their own cell
    (nprobe=1) — the inverted-file pruning that turns a 100 TB full scan
    into a per-cell lookup; recall loss vs the brute-force baseline is
    the measured trade."""
    assigned = ivf_assign(embeddings)
    queries = assigned.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
        F.col("cell_id").alias("qcell"),
    )
    scored = assigned.join(
        F.broadcast(queries), F.col("cell_id") == F.col("qcell")
    ).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                _dot(F.col("qe"), F.col("e")),
                F.col("qnorm") * F.col("norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def cosine_topk_lsh(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket (equi-join on bucket id instead of a cross join).

    The hyperplanes live in a broadcast TABLE and the sign-pattern
    bucket is an integer aggregation over the corpus ⋈ planes join —
    not 8×dim literal nodes baked into a projection, which costs
    driver-side plan compile per branch and can't scale to a trained
    codebook. The bucketed corpus is materialized once for the corpus
    and query branches."""
    planes = embeddings.where(F.col("vec_id").between(1, N_PLANES)).select(
        F.col("vec_id").alias("plane_id"), _as_double(F.col("embedding")).alias("pe")
    )
    base = with_norm(embeddings)
    buckets = (
        base.join(F.broadcast(planes))
        .select(
            "vec_id",
            F.when(
                _dot(F.col("e"), F.col("pe")) > 0,
                F.expr("shiftleft(1, int(plane_id - 1))"),
            )
            .otherwise(0)
            .alias("w"),
        )
        .groupBy("vec_id")
        .agg(F.sum("w").cast("int").alias("bucket"))
    )
    corpus = persist_tracked(base.join(buckets, "vec_id"))
    queries = corpus.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("bucket") == F.col("qbucket")
    ).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                _dot(F.col("qe"), F.col("e")),
                F.col("qnorm") * F.col("norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def cosine_topk_ivf_multiprobe(
    embeddings: DataFrame, k: int = TOP_K, nprobe: int = 2
) -> DataFrame:
    """Multi-probe IVF: queries search their ``nprobe`` nearest cells
    instead of one — the recall dial ``cosine_topk_ivf``'s docstring
    promises ("this is the number that decides whether to raise
    nprobe"). Cost scales linearly in nprobe (each probe is another
    cell's candidate list through the same broadcast equi-join); the
    stored index (``ivf_assign``) is untouched — probing is a
    query-side decision, exactly as in a production IVF."""
    assigned = ivf_assign(embeddings)
    cen = centroids(embeddings)
    cnorm = F.sqrt(_dot(F.col("c"), F.col("c")))
    qscored = (
        with_norm(embeddings)
        .where(F.col("vec_id") % QUERY_MOD == 0)
        .crossJoin(F.broadcast(cen))
        .select(
            F.col("vec_id").alias("query_vec_id"),
            F.col("e").alias("qe"),
            F.col("norm").alias("qnorm"),
            F.col("cell_id").alias("qcell"),
            F.round(
                F.try_divide(_dot(F.col("e"), F.col("c")), F.col("norm") * cnorm), 6
            ).alias("cscore"),
        )
    )
    wq = Window.partitionBy("query_vec_id").orderBy(
        F.col("cscore").desc(), F.col("qcell").asc()
    )
    qcells = (
        qscored.withColumn("qrn", F.row_number().over(wq))
        .where(F.col("qrn") <= nprobe)
        .select("query_vec_id", "qe", "qnorm", "qcell")
    )
    scored = assigned.join(
        F.broadcast(qcells), F.col("cell_id") == F.col("qcell")
    ).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                _dot(F.col("qe"), F.col("e")),
                F.col("qnorm") * F.col("norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — the compressed-domain ANN path (round 4)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace (64 / PQ_M)


def pq_codebooks(embeddings: DataFrame) -> DataFrame:
    """Deterministic PQ codebooks: one codeword per (subspace, label) —
    the element-wise mean SUBVECTOR over the label's vectors, through
    decimal sums for aggregation-order-independent bits (same trained-
    offline stand-in as ``centroids()``, sliced into PQ_M subspaces).
    Output: (sub, code, cw array<double>[PQ_DSUB], cwn2 = ||cw||^2).

    NULL labels excluded, same rule as ``centroids()``: unlabeled
    vectors are encoded against the trained codebook, never spawn a
    phantom codeword (r11)."""
    ex = spread(embeddings.where(F.col("label").isNotNull())).select(
        "label",
        F.posexplode(_as_double(F.col("embedding"))).alias("pos", "v"),
    )
    per_dim = (
        ex.withColumn("sub", (F.col("pos") / PQ_DSUB).cast("int"))
        .groupBy("label", "sub", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    cb = (
        per_dim.groupBy("sub", "label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "sub",
            F.col("label").alias("code"),
            F.transform("pm", lambda s: s["m"]).alias("cw"),
        )
    )
    return cb.withColumn("cwn2", _dot(F.col("cw"), F.col("cw")))


def pq_encode(embeddings: DataFrame) -> DataFrame:
    """Encode every vector to PQ_M code ids: per subspace, the codeword
    minimizing the squared L2 distance to the subvector (rounded to 6 dp
    with a code-asc tie-break for a total order). The corpus side of the
    downstream search touches ONLY these codes — at 100 TB the stored
    index is PQ_M small ints per vector (~32x smaller than the float
    row), which is the whole point of PQ: the scan becomes memory-
    resident. One broadcast join (tiny codebook) + one per-(vec,sub)
    argmin window; the corpus is never shuffled.
    """
    cb = pq_codebooks(embeddings)
    subs = spread(embeddings).select(
        "vec_id",
        _as_double(F.col("embedding")).alias("e"),
    ).select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}),"
                f" s -> struct(s AS sub, slice(e, s * {PQ_DSUB} + 1,"
                f" {PQ_DSUB}) AS sv))"
            )
        ).alias("x"),
    ).select("vec_id", F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv"))
    scored = subs.join(F.broadcast(cb), "sub").select(
        "vec_id",
        "sub",
        "code",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("sv"), F.col("cw"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d2"),
    )
    w = Window.partitionBy("vec_id", "sub").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    # explicit spread of the code stream (r15, guide §2.5): every ADC
    # consumer persists this table and probes it with a broadcast LUT
    # join + per-(query, vec) decimal aggregate — the hot stage of the
    # PQ family. The window's AQE-coalesced output collapses the tiny
    # int table to ONE cached partition at bench scale (measured:
    # codes.rdd.getNumPartitions() == 1, the whole ADC probe ran
    # serial; repartitioned A/B 2.2 s -> 1.0 s on the per-pair agg).
    # Keyed by vec_id so a vector's PQ_M codes co-locate and the
    # downstream (query, vec) partial agg combines map-side. Cheap at
    # any scale: the code table is the ~32x-compressed index — one
    # extra shuffle of it is the smallest shuffle in the family.
    return spread(
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "sub", "code"),
        "vec_id",
    )


def cosine_topk_pq_adc(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance computation (ADC):
    the query keeps its exact float vector; every corpus vector is
    represented by its PQ codes, and ``dot(q, x)`` is approximated by
    ``sum_s dot(q_s, codeword[s, code_s(x)])`` — a per-(query, sub,
    code) lookup TABLE (broadcast: |queries| x PQ_M x |codebook| rows)
    joined against the code stream and summed. The reconstruction norm
    ``||recon(x)||^2 = sum_s ||codeword||^2`` comes from the same code
    stream, so the corpus-side scan reads codes only. Jegou et al. 2011
    ("Product quantization for nearest neighbor search"), re-expressed
    as two broadcast equi-joins + one hash aggregate.
    """
    codes = persist_tracked(pq_encode(embeddings))
    cb = pq_codebooks(embeddings)
    queries = with_norm(embeddings).where(
        F.col("vec_id") % QUERY_MOD == 0
    ).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    # LUT: partial dot of each query subvector with each codeword
    lut = queries.crossJoin(F.broadcast(cb)).select(
        "query_vec_id",
        "qnorm",
        "sub",
        "code",
        _dot(
            F.slice(F.col("qe"), F.col("sub") * PQ_DSUB + 1, PQ_DSUB),
            F.col("cw"),
        ).alias("pdot"),
        "cwn2",
    )
    # decimal-routed sums: the PQ_M partial dots land in one group in
    # arbitrary partial-aggregation order, and double addition is not
    # associative — decimal sums make the result order-independent and
    # bit-equal to the oracle's
    per_pair = codes.join(
        F.broadcast(lut), ["sub", "code"]
    ).groupBy("query_vec_id", "vec_id").agg(
        F.sum(F.col("pdot").cast("decimal(28,12)")).cast("double").alias(
            "adot"
        ),
        F.sum(F.col("cwn2").cast("decimal(28,12)")).cast("double").alias(
            "rn2"
        ),
        F.max("qnorm").alias("qnorm"),
    )
    scored = per_pair.select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                F.col("adot"), F.col("qnorm") * F.sqrt(F.col("rn2"))
            ),
            6,
        ).alias("cos_pq"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_pq").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


REFINE_C = 50  # stage-1 candidate depth for the two-stage refine


def cosine_topk_pq_refine(
    embeddings: DataFrame, k: int = TOP_K, c: int = REFINE_C
) -> DataFrame:
    """Two-stage retrieval: PQ-ADC candidate generation (top-``c`` in
    the compressed domain) followed by EXACT cosine re-scoring of just
    those candidates — FAISS's ``IndexRefineFlat`` pattern, and the
    standard production answer to PQ's recall loss: the corpus scan
    stays in the ~32x-smaller code domain, and the float vectors are
    fetched for only |queries| x c rows (an equi-join on neighbor id —
    point lookups against vector storage at 100 TB, not a scan).
    """
    cand = cosine_topk_pq_adc(embeddings, k=c).select(
        "query_vec_id", "neighbor_vec_id"
    )
    base = with_norm(embeddings)
    queries = base.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    refined = (
        cand.join(
            base.select(
                F.col("vec_id").alias("neighbor_vec_id"), "e", "norm"
            ),
            "neighbor_vec_id",
        )
        .join(F.broadcast(queries), "query_vec_id")
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            F.round(
                F.try_divide(
                    _dot(F.col("qe"), F.col("e")),
                    F.col("qnorm") * F.col("norm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def cosine_topk_ivfpq(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """IVF-PQ — the composed index every production ANN service runs
    (FAISS's IndexIVFPQ): the coarse quantizer prunes the search to the
    query's cell (``ivf_assign``), and within the cell candidates are
    scored in the COMPRESSED domain via PQ asymmetric distance
    (``pq_encode`` codes + a broadcast per-query lookup table). The
    corpus-side scan touches only (cell_id, codes) — at 100 TB that is
    the difference between streaming the float corpus and probing a
    ~32x-smaller memory-resident index, with the cell filter cutting
    candidates by ~|cells| on top.

    Plan shape: the LUT carries the query's cell, so one 3-key
    broadcast equi-join (cell, sub, code) against the code stream does
    both the cell pruning and the table lookup; then one hash aggregate
    per (query, candidate) and a per-query top-k window.
    """
    codes = persist_tracked(pq_encode(embeddings))
    assigned = ivf_assign(embeddings)
    cb = pq_codebooks(embeddings)
    queries = assigned.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
        F.col("cell_id").alias("qcell"),
    )
    lut = queries.crossJoin(F.broadcast(cb)).select(
        "query_vec_id",
        "qnorm",
        "qcell",
        F.col("sub").alias("l_sub"),
        F.col("code").alias("l_code"),
        _dot(
            F.slice(F.col("qe"), F.col("sub") * PQ_DSUB + 1, PQ_DSUB),
            F.col("cw"),
        ).alias("pdot"),
        "cwn2",
    )
    coded = codes.join(assigned.select("vec_id", "cell_id"), "vec_id")
    per_pair = (
        coded.join(
            F.broadcast(lut),
            (F.col("cell_id") == F.col("qcell"))
            & (F.col("sub") == F.col("l_sub"))
            & (F.col("code") == F.col("l_code")),
        )
        .groupBy("query_vec_id", "vec_id")
        .agg(
            F.sum(F.col("pdot").cast("decimal(28,12)")).cast("double").alias(
                "adot"
            ),
            F.sum(F.col("cwn2").cast("decimal(28,12)")).cast("double").alias(
                "rn2"
            ),
            F.max("qnorm").alias("qnorm"),
        )
    )
    scored = per_pair.select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                F.col("adot"), F.col("qnorm") * F.sqrt(F.col("rn2"))
            ),
            6,
        ).alias("cos_pq"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_pq").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


MRL_DIMS = 16  # truncated prefix dimensionality for the Matryoshka audit


def cosine_topk_truncated(
    embeddings: DataFrame, dims: int = MRL_DIMS, k: int = TOP_K
) -> DataFrame:
    """Exact top-k over PREFIX-TRUNCATED embeddings — the
    Matryoshka-representation trade (Kusupati et al. 2022): an
    MRL-trained encoder packs coarse semantics into the leading
    dimensions, so serving can score d/4 of the floats and keep most of
    the recall. The fixture's embeddings are not MRL-trained, so the
    measured recall here is the HONEST pessimistic floor for naive
    truncation — exactly the number a serving team needs before
    flipping this switch. Same broadcast-query brute-force shape as the
    full-dimension baseline, 4x less arithmetic and scan width."""
    corpus = spread(embeddings).select(
        "vec_id",
        F.slice(_as_double(F.col("embedding")), 1, dims).alias("e"),
    ).select("vec_id", "e", F.sqrt(_dot(F.col("e"), F.col("e"))).alias("norm"))
    queries = corpus.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                _dot(F.col("qe"), F.col("e")),
                F.col("qnorm") * F.col("norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def binary_codes(embeddings: DataFrame) -> DataFrame:
    """Binary quantization: each 64-dim float vector becomes 64 SIGN
    BITS packed into two longs (dims 1-32 -> ``blo``, 33-64 -> ``bhi``;
    two 32-bit halves keep every shift inside signed-64 range in both
    engines). 8 bytes per vector — a 32x smaller index than the float
    row, scanned with nothing but XOR + popcount: the binary-quantized
    first stage modern vector stores ship (and the cheapest of the
    engine's compressed ANN paths — cf. PQ's table lookups)."""

    def pack(lo: int) -> F.Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(lo), F.lit(lo + 31)),
                # try_element_at: a ragged (<64-dim) vector must pack a 0
                # sign bit for its missing dims — DuckDB's e[i] gives NULL
                # out of bounds, while ANSI element_at would kill the scan
                lambda i: F.when(
                    F.try_element_at(F.col("e"), i) > 0,
                    # 2^(i-lo) exact in double for shifts 0..31, then
                    # truncated back to long (F.shiftleft needs a
                    # Python-int shift, not a Column)
                    F.pow(F.lit(2.0), (i - lo).cast("double")).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return with_norm(embeddings).select(
        "vec_id",
        "e",
        "norm",
        pack(1).alias("blo"),
        pack(33).alias("bhi"),
    )


def hamming_topk_binary(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k by Hamming distance over the binary codes:
    ``popcount(xor(lo)) + popcount(xor(hi))`` — integer-only whole-stage
    codegen, corpus side touches 2 longs per vector. Ties (Hamming is
    coarse) break on neighbor id for a total order."""
    coded = persist_tracked(binary_codes(embeddings))
    queries = coded.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("blo").alias("qlo"),
        F.col("bhi").alias("qhi"),
    )
    scored = coded.select("vec_id", "blo", "bhi").crossJoin(
        F.broadcast(queries)
    ).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        (
            F.bit_count(F.col("blo").bitwiseXOR(F.col("qlo")))
            + F.bit_count(F.col("bhi").bitwiseXOR(F.col("qhi")))
        ).cast("long").alias("hamming"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def int8_codes(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization for SEARCH (the serving
    twin of `queries/curation.embedding_quantize_int8`'s storage audit):
    scale = max|x|/127, q_i = floor(x_i/scale + 0.5) clamped to
    [-127, 127] — `floor(x+0.5)` sidesteps engine round-half rules.
    64 bytes/vector (4x smaller than float32), and int8 x int8 dots are
    EXACT integers, so ranking is deterministic across engines."""
    e = _as_double(F.col("embedding"))
    amax = F.array_max(F.transform(e, F.abs))
    return spread(embeddings).select(
        "vec_id",
        e.alias("e"),
        amax.alias("amax"),
        (amax / F.lit(127.0)).alias("scale"),
    ).select(
        "vec_id",
        "scale",
        F.transform(
            F.col("e"),
            lambda x: F.when(
                F.col("amax") == 0.0, F.lit(0).cast("long")
            ).otherwise(
                F.greatest(
                    F.lit(-127).cast("long"),
                    F.least(
                        F.lit(127).cast("long"),
                        F.floor(x / F.col("scale") + F.lit(0.5)),
                    ),
                )
            ),
        ).alias("q"),
    )


def cosine_topk_int8(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Approximate top-k over int8 codes, symmetric scoring: the
    integer dot q_c . q_q is exact; cosine is reconstructed as
    dot / (|q_c| |q_q|) from integer self-dots (the per-vector scales
    cancel in cosine). Corpus side reads 64 bytes/vector; all hot-path
    arithmetic is integer codegen + two sqrt/division flops per pair."""
    coded = persist_tracked(
        int8_codes(embeddings).select(
            "vec_id",
            "q",
            F.aggregate(
                F.zip_with(F.col("q"), F.col("q"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qq"),
        )
    )
    queries = coded.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("q").alias("quer"),
        F.col("qq").alias("qq_q"),
    )
    scored = coded.crossJoin(F.broadcast(queries)).select(
        "query_vec_id",
        F.col("vec_id").alias("neighbor_vec_id"),
        F.round(
            F.try_divide(
                F.aggregate(
                    F.zip_with(F.col("q"), F.col("quer"), lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).cast("double"),
                F.sqrt(F.col("qq").cast("double"))
                * F.sqrt(F.col("qq_q").cast("double")),
            ),
            6,
        ).alias("cos_q8"),
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.col("cos_q8").desc(), F.col("neighbor_vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )
