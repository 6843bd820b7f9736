"""Regenerate PLANS.md: the physical-plan audit of flagship queries.

Run from the repo root:  python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (query, what the plan must show)
AUDITED = [
    (
        "qd_rainy_day_tickets",
        "fact aggregated to violation_date, one partition, shuffle_hash "
        "join to the one-partition weather cache; no broadcast, no exchange "
        "at the join",
    ),
    ("qa_monthly_agency_tickets", "partial+final hash aggregate, codegen spans"),
    ("qf_monthly_speeding_fines", "LIKE filters evaluated pre-shuffle in codegen"),
    ("dedup_minhash_assign", "persisted signature scan; band equi-join; no cross join"),
    (
        "embedding_dup_components",
        "anchored candidate equi-join + shuffle_hash-pinned verify; the "
        "only BNLJ is the 1-row overflow_buckets broadcast combine",
    ),
    ("similarity_cosine_topk", "broadcast nested loop over the tiny query set only"),
    ("asof_click_before_error", "union + single windowed carry; zero join nodes"),
    ("range_click_before_error", "hash equi-join on (key, bucket); no nested loop"),
    ("salted_join_summary", "join key carries the salt column"),
    (
        "curation_decisions",
        "single tokenize branch; keeper election as partial+final min-agg",
    ),
    (
        "text_tfidf_top_terms",
        "map-side-combined tf/df aggregates; corpus size broadcast, not collected",
    ),
    (
        "events_orphan_user_audit",
        "broadcast LeftAnti + LeftSemi; fact side never shuffles",
    ),
    (
        "events_hopping_window_counts",
        "single Expand (x4 window assignment) + hash aggregate; no self-join",
    ),
    (
        "scd2_user_attribute_history",
        "one user-key exchange reused by both windows and the aggregate",
    ),
    (
        "doc_length_quartile_assignment",
        "scalar threshold aggregate broadcast; no global sort anywhere",
    ),
    (
        "tpch_q5_local_supplier_volume",
        "six-way star join: all five joins broadcast-hash, zero sort-merge",
    ),
    (
        "tpch_q2_min_cost_supplier",
        "correlated scalar MIN decorrelated: per-part MIN joined back on "
        "(part, decimal cost); dims broadcast; one shuffle for the "
        "derived partsupp aggregate",
    ),
    (
        "tpch_q11_important_stock",
        "HAVING-over-global-scalar decorrelated: 1-row total broadcast "
        "nested-loop crossed back; no fact-sized cartesian",
    ),
    (
        "tpch_q21_sole_returned_supplier",
        "double-correlated EXISTS/NOT EXISTS as LeftSemi + LeftAnti "
        "joins with supplier-inequality residuals; no per-row subquery",
    ),
    (
        "timeseries_gapfill_interpolate",
        "spine from two scalar aggregates + generator; LOCF windows "
        "over |days| rows, never the fact table",
    ),
    (
        "text_bm25_scores",
        "one explode+agg token pass; df and (N, avgdl) stats as "
        "constant-size broadcast sides",
    ),
    (
        "user_activity_streaks",
        "row_number-difference islands: one partitioned window + one "
        "hash-agg, no self-join",
    ),
    (
        "graph_triangle_census",
        "triangle join runs on the persisted collapsed EDGE table "
        "(InMemoryTableScan on both join sides), never the fact scan; "
        "1-row census combines are the only nested-loop nodes",
    ),
    (
        "events_zscore_outliers",
        "5-row moment aggregate broadcast back over the fact; outlier "
        "test is decimal codegen, no float variance",
    ),
    (
        "dedup_sorted_neighborhood",
        "one window sort per block pass + JVM levenshtein; no "
        "self-join, no pair explosion beyond W*n",
    ),
    (
        "dedup_ngram_jaccard_pairs",
        "fp40-blocked verify self-join pinned ShuffledHashJoin — the "
        "shingle-array payload is never broadcast (r6 100x AQE "
        "demotion OOM class; SCALING.md join-strategy audit)",
    ),
    (
        "semdedup_cluster_pairs",
        "within-cluster self-join pinned ShuffledHashJoin — the "
        "embedding-array payload is never broadcast (same demotion "
        "class); k-means state broadcast separately as bounded",
    ),
    (
        "corpus_vocab_encode",
        "tiny vocabulary broadcast-hash dictionary join over the token "
        "stream; per-doc reassembly via in-array sort, no global sort",
    ),
    (
        "graph_pagerank_coclick",
        "final-round plan only one round deep (localCheckpoint "
        "truncates lineage); rank-vector join against the persisted "
        "edge-with-degree table + one partial+final hash-agg per round",
    ),
    (
        "embedding_kmeans_exact",
        "512-row centroid tables broadcast; ONE shuffle per assignment "
        "round (k folds into conditional sums under groupBy(vec_id)); "
        "argmin is an array expression in codegen, no per-cluster "
        "shuffle and no window sort",
    ),
    (
        "corpus_bigram_lm_nll",
        "bigrams emitted by a transform(sequence) HOF over the token "
        "array (no posexplode self-join); vocabulary-bounded count "
        "tables joined broadcast-hash; 1-row vocab size as broadcast "
        "crossJoin",
    ),
    (
        "cdc_merge_matrix",
        "the whole MERGE is ONE outer key join (broadcast or shuffle "
        "per AQE) + codegen CASE routing; no row_number sort, no "
        "second pass over the target",
    ),
    (
        "funnel_conversion_window_24h",
        "existence test as a day-bucketed hash equi-join on "
        "(user, day) with the exact 24 h filter inside the bucket — "
        "no nested-loop and no all click x purchase pairs",
    ),
    (
        "phrase_search_positional",
        "both posting lists filtered to their term BEFORE the "
        "adjacency equi-join (read two posting lists, not the corpus); "
        "no substring scan of text in the plan",
    ),
    (
        "table_fingerprint_audit",
        "md5 + projection fused into the parquet scan inside one "
        "codegen span; single partial+final aggregate on the month "
        "key — full scan bandwidth, minimal shuffle",
    ),
    (
        "nested_hof_order_amounts",
        "ONE collect_list shuffle builds the nested column; every "
        "size/filter/transform/aggregate HOF evaluates in the codegen "
        "Project over the array — no explode, no second shuffle",
    ),
    (
        "corpus_pipeline_end2end",
        "one corpus scan feeds filter -> keeper semi-join -> split "
        "filter -> pack shuffle; the only wide exchanges are the "
        "keeper groupBy and the (lang, shard) pack key",
    ),
    (
        "rollup_serving_qa",
        "the serving read scans the ROLLUP parquet (day-grain rows), "
        "never lineitem/orders — no fact-table FileScan in the plan",
    ),
    (
        "multimodal_ahash_near_dup",
        "one persisted decode (InMemoryTableScan feeds explode and both "
        "verify join-backs); band equi-join is a BroadcastHashJoin — "
        "no cross join anywhere in the pair generation",
    ),
    (
        "udaf_grouped_median",
        "AggregateInPandas (Arrow-batched GROUPED_AGG) over one shuffle "
        "on event_type; no JVM-aggregate mixing, no collect",
    ),
    (
        "dedup_minhash_recall",
        "ground truth is a posting-list equi-join (shingle key) with "
        "the query side broadcast — no crossJoin, no per-pair array "
        "re-scan; band candidates reuse the persisted signatures",
    ),
    (
        "bucketed_join_zero_shuffle",
        "SortMergeJoin over two pre-bucketed external tables: NO "
        "Exchange on the join key (the only exchanges are the "
        "downstream month-groupBy shuffle)",
    ),
    (
        "graph_bfs_seed_distance",
        "per-round frontier join + min-aggregate over the persisted "
        "directed edge list; localCheckpoint keeps the final plan "
        "one-round deep",
    ),
    (
        "similarity_pq_adc_topk",
        "corpus side scans CODES only (InMemoryTableScan of the "
        "persisted encode); LUT and codebook are broadcast hash joins; "
        "no cross join outside the tiny query-set LUT build",
    ),
    (
        "dedup_substring_span_coverage",
        "one explode to (doc, start, gram), hash-aggregate gram "
        "frequency, equi-join back on the gram, per-doc lag window — "
        "no corpus-wide window, no cross join",
    ),
    (
        "logreg_gd_train",
        "final eval is ONE partial+final HashAggregate over the "
        "persisted feature scan (InMemoryTableScan); weights are "
        "literals — no join, no window, no collect in the plan",
    ),
    (
        "timeseries_seasonal_decompose",
        "fact shuffle once to daily counts; the ORDER BY window and "
        "weekday join run on the tiny per-day table with the 7-row "
        "effect side broadcast",
    ),
    (
        "geo_ward_point_in_polygon",
        "polygon edges are LITERAL arrays folded by HOFs inside the "
        "codegen Project over the fact scan — no join, no Python; the "
        "only shuffle is the final per-ward groupBy",
    ),
    (
        "dedup_prefix_filter_pairs",
        "vocabulary-ranked ordering, prefix-only posting explode, "
        "candidate equi-join on the token, relational intersection "
        "joins — no cross join, no corpus-wide window",
    ),
    (
        "curation_perplexity_filter",
        "bigram stream persisted once (InMemoryTableScan feeds the "
        "two count tables and the scoring join); per-doc score table "
        "persisted for the threshold + gate consumers; 1-row "
        "threshold broadcast",
    ),
    (
        "events_local_day_rollup",
        "timezone conversion is a per-row expression inside the codegen "
        "Project over the fact scan; one shuffle on the local-day key",
    ),
    (
        "feature_store_pit_labels",
        "fact shuffles once to (user, day) grain (persisted); the "
        "cumulative window and the 1..7-day label join both run over "
        "the bounded per-day table",
    ),
    (
        "retrieval_rrf_hybrid",
        "both arm ranks are DISTRIBUTED global ranks (rangepartitioning "
        "exchange, per-partition row_number, constant-size offset "
        "ledger as the only SinglePartition window input); final "
        "top-10 pre-reduces per partition; query vector is a 1-row "
        "broadcast",
    ),
    (
        "sql_ntile_price_deciles",
        "exact ntile WITHOUT a global sort: rangepartitioning rank "
        "pipeline + closed-form bucket arithmetic in codegen; the only "
        "nested-loop is the 1-row total-count broadcast",
    ),
    (
        "layout_zorder_pruning_audit",
        "three rank pipelines (one per layout) over one events scan; "
        "each is range-partitioned with the offset ledger as the only "
        "single-partition window; final audit is a constant-size "
        "aggregate per strategy x predicate",
    ),
    (
        "events_touch_attribution",
        "purchase-touch pairing is a day-bucketed HASH equi-join "
        "(explode <= 3 candidate buckets), never a nested loop; "
        "first/last election windows are per-purchase partitions",
    ),
    (
        "similarity_binary_hamming_topk",
        "corpus side scans two LONG code columns of the persisted "
        "binary index; XOR+popcount evaluates in codegen; the only "
        "nested-loop is the tiny broadcast query set",
    ),
    (
        "curation_decontaminate_neardup",
        "persisted signature scan feeds reps, band join, and verify; "
        "benchmark band + shingle sides broadcast; verification joins "
        "run on unique-TEXT representatives, not per doc",
    ),
    (
        "corpus_skipgram_pairs",
        "one multi-lead Window pass per doc partition (both offsets in "
        "a single Window node), no positional self-join; top-20 "
        "pre-reduces per partition before the global window",
    ),
    (
        "graph_label_propagation",
        "each round is one equi-join of the persisted symmetric edge "
        "list against the label table + a key-partitioned mode "
        "election window; no cross join, no global window",
    ),
    (
        "embedding_pca_power_iteration",
        "one ArrowEvalPython-free mapInArrow Gram pass over the corpus; "
        "every later stage joins/aggregates the bounded d^2 table; the "
        "only cross joins are 1-row scalar broadcasts (n, max|u|, "
        "Rayleigh terms)",
    ),
    (
        "corpus_suffix_array_doubling",
        "doc-keyed lead windows; two data-sized ranking passes, each a "
        "range-repartition + per-partition rank + constant-size offset "
        "ledger; final grouping keys on the integer (rank, next) pair "
        "— suffix strings appear only in the top-k report",
    ),
    (
        "eval_rouge2_pairs",
        "bigram sets built per-row inside the scan; pair scoring is "
        "array_intersect in codegen — the only shuffles are the "
        "lang-keyed pairing window and the final per-lang aggregate",
    ),
    (
        "curation_calibration_ece",
        "NB scoring pass shared with the confusion matrix; softmax and "
        "binning are doc-keyed 5-row aggregates; the ECE window runs "
        "over the 10-row bin table",
    ),
]


def main() -> None:
    from dc_moving_violations_cloud_etl_spark import catalog
    from dc_moving_violations_cloud_etl_spark.queries import QUERIES, get_queries
    from dc_moving_violations_cloud_etl_spark.session import get_spark

    get_queries()
    spark = get_spark(app_name="plan-dump")
    # plan every audited query against materialized caches, as a serving
    # session does; a cold cache's size estimate changes the join plan
    catalog.violations(spark, SF_DIR).count()
    catalog.weather_daily(spark, SF_DIR).count()

    out = [
        "# PLANS — physical-plan audit (auto-generated)",
        "",
        f"`python tools/dump_plans.py` at `{SF_DIR}`. Each plan is the",
        "post-AQE executed plan; the annotation states the property the",
        "plan must exhibit (enforced by tests/test_plans.py where noted).",
        "",
        "## Plan-authoring rules (hard-won, r10/r11)",
        "",
        "Rules distilled from review catches — apply when writing or",
        "auditing any operator plan (VERDICT r10 rec #7):",
        "",
        "1. **pushFilters whitelists PHYSICAL columns only.** A Python",
        "   DataSource must never claim a filter on a COMPUTED column as",
        "   absorbed: the source can only honor predicates over columns",
        "   that physically exist in its layout; claiming a derived",
        "   column silently drops the predicate (r10 review caught this",
        "   in sources/paged_api.py — the whitelist is now explicit and",
        "   everything else is returned to Spark for re-evaluation).",
        "",
        "2. **Page/partition identity is carried PER ROW, never inferred",
        "   from position.** With gapped key layouts, a fetch plan that",
        "   derives page membership from row offsets breaks the moment a",
        "   page is empty or split; stamp each row with its page_id at",
        "   generation time so coalescing/splitting fetch groups cannot",
        "   reassign rows (r10 paged-API planner rewrite — also the fix",
        "   that killed the 100x fixed-width key-domain OOM).",
        "",
        "3. **try_-expression overhead matters only when the",
        "   try-expression IS the scan's work.** Blanket-replacing every",
        "   cast/divide with its try_ form is safe in reduced/aggregate",
        "   positions (measured ~0 cost), but in the hot scan path a",
        "   TryEval wrapper can disable codegen for the whole expression",
        "   - measure the specific scan (the r10 try_cast re-measurement",
        "   on the props readers showed scan-position cost within noise,",
        "   which is why ANSI-safety wins there too).",
        "",
        "4. **A tolerant read path must be mirrored by semantics, not by",
        "   spell.** Spark's three JSON read paths coerce differently",
        "   (try_cast: trimmed integral strings only; try_variant_get:",
        "   doubles truncate toward zero, bools map to 1/0; from_json",
        "   typed: bare integers only) and DuckDB's bare TRY_CAST rounds",
        "   varchar numerics - every twin must encode the MEASURED",
        "   coercion table of its exact Spark path, pinned by a battery",
        "   test (tests/test_dirty_props.py, ADVICE r10).",
        "",
        "5. **Hashed output must be TOTAL over NULLs and normalized over",
        "   IEEE edge values.** Canonical serializations coalesce every",
        "   nullable component (Spark concat_ws SKIPS a NULL slot while",
        "   SQL `||` NULLs the whole string); rank/median selection",
        "   excludes NULL measurements (NULLS FIRST vs LAST shifts",
        "   selected ranks between engines); rounded doubles that can",
        "   reach zero add `+ 0.0` so -0.0 and +0.0 stringify",
        "   identically (r11 dirty-fixture sweep: eight twins fixed).",
        "",
    ]
    for name, claim in AUDITED:
        df = QUERIES[name].build(spark, SF_DIR)
        df.collect()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        # strip per-run ids so the artifact diffs cleanly between rounds
        plan = re.sub(r"#\d+L?", "#_", plan)
        plan = re.sub(r"\[id=#?_?\d*\]", "", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
        out += [f"## {name}", "", f"**Must show**: {claim}", "", "```"]
        out += plan.rstrip().splitlines()
        out += ["```", ""]

    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
