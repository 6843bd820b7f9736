"""Physical-plan assertions (SURVEY.md §4): the optimizations the engine
relies on must actually appear in the executed plan — the fact
aggregated to the date grain before the dimension join, predicate/column
pushdown to the parquet scan, and whole-stage codegen on the reference
query surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.queries import QUERIES, get_queries

get_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _unwrap(node):
    """Step through AQE's wrapper and query stages to the plan they hold."""
    while True:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif name.endswith("QueryStageExec"):
            node = node.plan()
        else:
            return node


def _own_operators(node):
    """The query's own physical operators, top-down. A cached relation
    is a leaf here: its InMemoryRelation subtree (e.g. the violations
    cache's own lineitem⋈orders broadcast) belongs to the cache, not
    the query."""
    node = _unwrap(node)
    yield node
    cs = node.children()
    for i in range(cs.size()):
        yield from _own_operators(cs.apply(i))


# operators a join side may pass through without leaving its stage
_SAME_STAGE = {
    "WholeStageCodegenExec",
    "InputAdapter",
    "CoalesceExec",
    "ProjectExec",
    "FilterExec",
}


def _side_head(node):
    """The first operator below ``node`` that is not a same-stage
    pass-through: an exchange, an aggregate or a scan."""
    node = _unwrap(node)
    while node.getClass().getSimpleName() in _SAME_STAGE:
        node = _unwrap(node.children().apply(0))
    return node


def test_weather_joins_aggregate_the_fact_first(spark, sf_dir):
    """E1/O9, made strict: the fact never reaches the weather join raw.
    In Q0, Qd and Qh the join's fact side is a HashAggregate keyed on
    ``violation_date`` with no exchange between it and the join, the
    other side is the cached weather scan, and nothing is broadcast or
    sort-merged. Only the query's own operators are inspected."""
    for name in (
        "q0_flagship_rainy_count",
        "qd_rainy_day_tickets",
        "qh_accidents_rain_vs_dry",
    ):
        df = QUERIES[name].build(spark, sf_dir)
        df.collect()  # the final AQE plan
        ops = list(_own_operators(df._jdf.queryExecution().executedPlan()))
        kinds = [op.getClass().getSimpleName() for op in ops]
        for bad in ("SortMergeJoinExec", "BroadcastExchangeExec"):
            assert bad not in kinds, f"{name}: {bad} in {kinds}"
        joins = [op for op in ops if op.getClass().getSimpleName().endswith("JoinExec")]
        assert len(joins) == 1, f"{name}: {kinds}"
        heads = [_side_head(joins[0].left()), _side_head(joins[0].right())]
        head_kinds = sorted(h.getClass().getSimpleName() for h in heads)
        assert head_kinds == ["HashAggregateExec", "InMemoryTableScanExec"], (
            f"{name}: join sides reach {head_kinds} — an exchange or a raw "
            f"fact scan sits under the join"
        )
        agg = next(h for h in heads if h.getClass().getSimpleName() == "HashAggregateExec")
        keys = agg.groupingExpressions()
        assert [keys.apply(i).name() for i in range(keys.size())] == [
            "violation_date"
        ], f"{name}: fact aggregate keyed on {agg.groupingExpressions()}"


def test_qb_filter_pushed_to_scan(spark, sf_dir):
    """O1: the date predicate must reach the parquet reader (shows up as
    a pushed filter on the shipdate column the view derives from)."""
    df = catalog.base(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= "1998-01-01"
    )
    plan = _plan(df.select("l_orderkey"))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """O3: a two-column projection must scan two columns, not the table."""
    df = catalog.base(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    scan = plan.split("FileScan", 1)[1]
    read_schema = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema


def test_reference_queries_use_wholestage_codegen(spark, sf_dir):
    """The reference surface must stay JVM-side: every Qa–Qh plan runs
    inside WholeStageCodegen spans and contains no Python evaluation."""
    for name in (
        "qa_monthly_agency_tickets",
        "qc_avg_tickets_per_weekday",
        "qh_accidents_rain_vs_dry",
    ):
        df = QUERIES[name].build(spark, sf_dir)
        df.collect()  # finalize the AQE plan — codegen shows post-execution
        plan = _plan(df)
        # codegen spans print as `*(n)` stage markers in the plan string
        assert "*(" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# every entry is a BROADCAST of a constant-size side — a 1-row global
# aggregate crossed back (scalar-combine pattern) or the tiny ANN query
# set — never a shuffle cartesian over fact-sized inputs. A new name
# showing up here must be justified the same way or the plan is a bug.
_ALLOWED_BNLJ = {
    # 1-row scalar-aggregate cross-combines
    "text_tfidf_top_terms",        # corpus doc-count scalar
    "dq_audit_violations",         # total-row-count scalar
    "funnel_view_click_purchase",  # stage totals 1x1x1 combine
    "events_orphan_user_audit",    # audit totals 1x1 combine
    "dau_wau_stickiness",          # dau/wau scalar ratio
    "cdc_last_state_compaction",   # scalar checksum combine
    "set_ops_user_segments",       # three 1-row set cardinalities
    "doc_length_quartile_assignment",  # 1-row quartile-bounds broadcast
    "tpch_q22_rich_inactive_customers",  # 1-row positive-balance stats
    "tpch_q11_important_stock",    # 1-row national stock total
    "text_bm25_scores",            # 1-row (N, avgdl) corpus stats
    "graph_triangle_census",       # nodes/edges/wedges/tri 1x1x1 combine
    "graph_degree_assortativity",  # 1-row moment-sum x node/edge counts
    "basket_type_lift",            # 1-row basket-count broadcast
    "events_value_drift_audit",    # 1-row midpoint + totals broadcasts
    "corpus_bigram_lm_nll",        # 1-row vocabulary-size broadcast
    "events_decayed_leaderboard",  # 1-row reference-day broadcast
    "gdpr_forget_users_audit",     # per-table 1x1x1 audit-count combines
    "sql_ntile_price_deciles",     # 1-row total-count broadcast (ntile n)
    "corpus_unigram_seed_vocab",   # 1-row vocab-score-total broadcast
    "corpus_unigram_viterbi_encode",  # same 1-row total inside _uni_core
    "corpus_tokenizer_fertility",  # same 1-row total (r14: the fold-based
    # Viterbi DP no longer checkpoints per round, so _uni_core's 1-row
    # vocab-score-total broadcast is visible in the final plan)
    "graph_kcore_peel",            # per-round 1x1 trace-count combine
    "corpus_negative_samples",     # 1-row total-weight broadcast (CDF mod)
    "embedding_dup_components",    # 1-row overflow_buckets scalar-combine
    # tiny broadcast query set (|Q| ~ 100 vectors), deliberate
    # brute-force baseline and its LSH/IVF comparators
    "dedup_embedding_cosine_pairs",
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_lsh_recall",
    "similarity_ivf_recall",
    "similarity_ivf_nprobe2_recall",
    "dedup_minhash_recall",        # bounded doc query set, brute-force truth
    "similarity_pq_adc_topk",      # tiny query set x tiny codebook LUT
    "similarity_pq_recall",        # 1-row count combines + the above
    "similarity_ivfpq_topk",       # same tiny LUT build as the PQ path
    "similarity_ivfpq_recall",     # 1-row count combines + the above
    "similarity_matryoshka_recall",  # brute-force truncated baseline
    "similarity_binary_hamming_topk",  # tiny binary-code query set
    "similarity_binary_recall",    # 1-row count combines + the above
    "similarity_int8_topk",        # tiny int8-code query set
    "similarity_int8_recall",      # 1-row count combines + the above
    "retrieval_rrf_hybrid",        # 1-row query-vector broadcast
    "curation_perplexity_filter",  # 1-row vocab-size + p90 broadcasts
    "mining_contrastive_triples",  # brute-force ranking + 1-row n_vec
    "mining_preference_pairs",     # same brute-force broadcast query set
    "retrieval_two_stage_rerank",  # tiny query set + 1-row count combines
    "layout_zorder_pruning_audit",  # 3-row constant predicate-box spine
    "dedup_lsh_band_tradeoff",     # bounded query set + 1-row count combines
    "corpus_kneser_ney_bigram",    # 1-row bigram-type-count broadcast
    "curation_naive_bayes_langid",  # 5-row class table + 1-row vocab size
    "curation_calibration_ece",    # same NB scoring pass (1-row vocab size)
    "embedding_pca_power_iteration",  # 1-row n / max|u| / Rayleigh combines
    "graph_hits_bipartite",  # 1-row L1-normalizer broadcast (r14: the
    # final auth half-step is lazy — one materialization per round —
    # so the scalar combine is visible in the final plan)
}


def _walk_logical(node):
    yield node
    cs = node.children()
    for i in range(cs.size()):
        yield from _walk_logical(cs.apply(i))


def _unreduced_global_windows(df) -> int:
    """Count unpartitioned Window nodes in the optimized logical plan
    whose subtree holds NO reduction — no Aggregate, no Limit, no
    partitioned (pre-reduce) Window below. Such a window funnels a
    data-sized input through one task (VERDICT r4 rec #4); the accepted
    shapes are (a) windows over aggregate-grain inputs (months, days,
    a limited vocab) and (b) the distributed-ranking helpers
    (operators/ranking.py), whose only global window reads either the
    per-partition offset ledger or a per-partition top-k."""
    reducers = {"Aggregate", "GlobalLimit", "LocalLimit", "Sample"}
    bad = 0
    for n in _walk_logical(df._jdf.queryExecution().optimizedPlan()):
        if (
            n.getClass().getSimpleName() == "Window"
            and n.partitionSpec().isEmpty()
        ):
            below = list(_walk_logical(n))[1:]
            reduced = any(
                c.getClass().getSimpleName() in reducers
                or (
                    c.getClass().getSimpleName() == "Window"
                    and not c.partitionSpec().isEmpty()
                )
                for c in below
            )
            if not reduced:
                bad += 1
    return bad


# Queries whose plan legitimately holds an unpartitioned window over an
# un-Aggregate-reduced input. Every entry must state the bound.
_ALLOWED_GLOBAL_WINDOW: dict[str, str] = {
    "gen_date_chunks": "sequence-explode date spine: |days| rows",
    "sql_recursive_month_spine": "recursive month spine: |months| rows",
}


def test_registry_wide_plan_guardrails(spark, sf_dir):
    """Permanent invariant over EVERY registered query (VERDICT r3 rec
    #6): no shuffle cartesian products anywhere, a broadcast
    nested-loop join may appear only in the audited scalar-combine /
    tiny-query-set allow-list above, and (VERDICT r4 rec #4) no
    unpartitioned window may rank an unreduced, data-sized input. This
    is the automated version of the per-round manual plan audit — any
    future quadratic join or single-task global sort fails here before
    it ships."""
    offenders: list[str] = []
    for name, spec in QUERIES.items():
        if name.startswith("stream_"):
            continue  # streaming queries execute at build time
        if name == "bloom_pruned_fact_join":
            # executes eagerly inside its conf guard and returns a
            # LocalTableScan of the collected aggregate — its plan is
            # vacuous here (and building it would run the join); the
            # REAL plan is asserted by test_bloom_filter_prunes_fact_scan
            continue
        df = spec.build(spark, sf_dir)
        plan = _plan(df)
        if "CartesianProduct" in plan:
            offenders.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _ALLOWED_BNLJ:
            offenders.append(f"{name}: unaudited BroadcastNestedLoopJoin")
        if name not in _ALLOWED_GLOBAL_WINDOW:
            n_bad = _unreduced_global_windows(df)
            if n_bad:
                offenders.append(
                    f"{name}: {n_bad} unpartitioned window(s) over an "
                    "unreduced input"
                )
    assert not offenders, offenders


def test_global_window_allowlist_has_no_stale_entries():
    stale = set(_ALLOWED_GLOBAL_WINDOW) - set(QUERIES)
    assert not stale, stale


def test_bnlj_allowlist_has_no_stale_entries():
    """Every allow-list entry must still be a registered query — a
    renamed/removed query must not leave a stale hole in the guardrail."""
    stale = _ALLOWED_BNLJ - set(QUERIES)
    assert not stale, stale


def test_asof_join_plans_no_join_operator(spark, sf_dir):
    """The as-of join must compile to union + ONE windowed carry — no
    join node at all (a naive inequality join would plan a per-key
    nested loop)."""
    plan = _plan(QUERIES["asof_click_before_error"].build(spark, sf_dir))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan
    assert "Window" in plan


def test_range_join_plans_hash_equi_join(spark, sf_dir):
    """The bounded range join must plan a HASH equi-join on
    (key, bucket) — never the nested-loop/cartesian a raw inequality
    join degenerates to."""
    plan = _plan(QUERIES["range_click_before_error"].build(spark, sf_dir))
    assert "HashJoin" in plan  # Broadcast- or Shuffled-, both are equi
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_orphan_audit_broadcasts_dimension(spark, sf_dir):
    """The referential-integrity audit must plan broadcast anti/semi
    joins — the fact side never shuffles for a keys-only dim check."""
    plan = _plan(QUERIES["events_orphan_user_audit"].build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_cube_and_hopping_plan_expand(spark, sf_dir):
    """CUBE and hopping windows must both compile to a single Expand +
    hash aggregate — one pass over the data, no self-joins."""
    for name in ("events_cube_type_weekday", "events_hopping_window_counts"):
        plan = _plan(QUERIES[name].build(spark, sf_dir))
        assert "Expand" in plan, name
        assert "Join" not in plan, name


def test_topk_windows_over_preaggregate(spark, sf_dir):
    """Per-group top-k must rank the pre-aggregated daily counts: the
    hash aggregate appears BELOW the window in the plan, so the window
    input is |types|x|days|, not the raw fact table."""
    plan = _plan(QUERIES["topk_busiest_days_per_type"].build(spark, sf_dir))
    assert "Window" in plan
    agg_pos = plan.index("HashAggregate")
    win_pos = plan.index("Window")
    # plan strings print top-down: the aggregate feeding the window must
    # appear after (= below) the window operator itself
    assert agg_pos > win_pos or "HashAggregate" in plan[win_pos:]


def test_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning must actually inject: the
    selective orders side builds a bloom_filter_agg and the lineitem
    side evaluates it (might_contain) BEFORE the shuffle — the runtime
    row-level prune a 100 TB fact join relies on."""
    from dc_moving_violations_cloud_etl_spark.queries.join_ops import (
        bloom_join_confs,
        build_bloom_join,
    )

    df = build_bloom_join(spark, sf_dir)
    with bloom_join_confs(spark):
        df.collect()
        plan = _plan(df)
    assert "bloom_filter_agg" in plan
    assert "might_contain" in plan
    # and the guard must restore the session: broadcast is re-enabled
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_scd2_single_user_shuffle(spark, sf_dir):
    """The SCD-2 build partitions both windows and the final aggregate
    by user_id: exactly ONE hash-partitioning exchange on the user key
    should exist (Catalyst reuses it); no range (global-sort) exchange
    of the fact table."""
    plan = _plan(QUERIES["scd2_user_attribute_history"].build(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(user_id") <= 1, plan


def test_parquet_aggregate_pushdown_fires(spark, sf_dir):
    """metadata_agg_pushdown's claim: under the v2 scan with
    aggregatePushdown, COUNT/MIN/MAX resolve from parquet footers — the
    BatchScan itself must carry a non-empty PushedAggregation."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,orc,text",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = catalog.base(spark, sf_dir, "lineitem").agg(
            F.count("*"), F.min("l_orderkey"), F.max("l_orderkey")
        )
        plan = _plan(df)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]" in plan, plan[:2000]


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """DPP: joining the month-partitioned violations layout against a
    FILTERED dimension must inject a dynamicpruning expression into the
    fact scan's PartitionFilters — the runtime analog of static
    partition pruning, and the mechanism that keeps a 100 TB
    partitioned fact from being listed in full when the selective
    predicate lives on the dimension side."""
    from dc_moving_violations_cloud_etl_spark.scratch import staged

    d = staged(
        "monthpart",
        sf_dir,
        lambda out: catalog.violations(spark, sf_dir)
        .write.partitionBy("month")
        .mode("overwrite")
        .parquet(out),
        files=("lineitem.parquet", "orders.parquet"),
    )
    fact = spark.read.parquet(d)
    months = [(f"1998-0{m}", 1 if m == 3 else 0) for m in range(1, 8)]
    dim = spark.createDataFrame(months, "month string, flag int")
    j = (
        fact.join(dim.where(F.col("flag") == 1), "month")
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = j.collect()
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    assert rows and all(r["month"] == "1998-03" for r in rows)


def test_join_strategy_hints_are_respected(spark, sf_dir):
    """The three join-strategy hints must each produce their physical
    operator — the manual override lane next to AQE's automatic
    choices (a 100 TB job pins a strategy when the optimizer's
    stats-based pick is wrong)."""
    li = catalog.base(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.base(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    cases = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
    }
    for hint, node in cases.items():
        plan = _plan(li.join(orders.hint(hint), "l_orderkey"))
        assert node in plan, f"{hint} -> expected {node}\n{plan[:800]}"


def test_analyze_table_feeds_cbo_statistics(spark, sf_dir):
    """ANALYZE TABLE must land rowCount (and tighter sizeInBytes) in
    the optimizer's statistics under CBO — the static-stats half of
    cost-based planning next to AQE's runtime half. On a 100 TB
    warehouse these stats are what let the initial plan pick broadcast
    sides and join orders before a single task runs."""
    saved = spark.conf.get("spark.sql.cbo.enabled", None)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS cbo_stats_dim")
    try:
        (
            catalog.base(spark, sf_dir, "nation")
            .write.mode("overwrite")
            .saveAsTable("cbo_stats_dim")
        )
        pre = (
            spark.table("cbo_stats_dim")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .toString()
        )
        assert "rowCount" not in pre
        spark.sql(
            "ANALYZE TABLE cbo_stats_dim COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        post = (
            spark.table("cbo_stats_dim")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .toString()
        )
        assert "rowCount=25" in post, post
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_stats_dim")
        if saved is None:
            spark.conf.unset("spark.sql.cbo.enabled")
        else:
            spark.conf.set("spark.sql.cbo.enabled", saved)


def test_corpus_joins_pin_shuffled_hash(spark, sf_dir):
    """The corpus-vs-corpus joins whose shuffled payloads are
    text-derived or embedding arrays must plan ShuffledHashJoin, never
    a broadcast: compressed shuffle stats under-read such payloads
    3-20x, and AQE broadcast-demoting a corpus-sized side OOMs the
    driver (caught live by the r6 100x smoke; SCALING.md
    "Corpus x corpus join-strategy audit")."""
    for name in (
        "dedup_ngram_jaccard_pairs",
        "dedup_embedding_cosine_pairs",
        "semdedup_cluster_pairs",
    ):
        plan = _plan(QUERIES[name].build(spark, sf_dir))
        assert "ShuffledHashJoin" in plan, f"{name} lost its pin:\n{plan}"


def test_cc_round_reuses_hook_exchange(spark, sf_dir):
    """The fused hook+shortcut CC round (r14, guide §2.4) relies on
    ReuseExchange serving the jump join's second side from the hooked
    subtree's first shuffle — if a future plan change breaks reuse, the
    hook silently recomputes twice per round (perf, not correctness).
    Plan-snapshot assertion per ADVICE r14."""
    from dc_moving_violations_cloud_etl_spark.operators.dedup import (
        cc_round,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 1)], "a long, b long"
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    r = cc_round(sym, labels)
    r.collect()  # finalize the AQE plan — reuse is decided at runtime
    plan = _plan(r)
    assert "ReusedExchange" in plan, f"CC round lost exchange reuse:\n{plan}"
