"""Scale-smoke: measure how flagship operators scale when the fixture
grows Nx, as evidence for the 100 TB design claims.

Stages an Nx blow-up of the heavy tables (events, documents,
embeddings, lineitem, orders) into /tmp by unioning N id-offset copies
— text/embedding payloads repeat, so exact-dup clusters grow Nx, which
STRESSES the dedup paths the way a web crawl does — symlinks the small
dims unchanged, then times each selected query at 1x and Nx and prints
one JSON line per query with the wall-clock ratio next to the data
ratio. A scale-safe plan should grow ~linearly (ratio <= ~N with local
CPU saturation); a quadratic or single-task operator shows up as
ratio >> N.

Usage: python tools/scale_smoke.py [N] [query ...]
Defaults: N=10 and a representative slice of the surface.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALED_TABLES = {
    # table -> id columns to offset per copy (keeps keys unique)
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
}
LINKED_TABLES = ["region", "nation", "customer", "supplier", "part"]

DEFAULT_QUERIES = [
    "qd_rainy_day_tickets",          # per-day fact agg ⋈ weather
    "qa_monthly_agency_tickets",     # partial+final agg
    "tpch_q1_pricing_summary",       # wide decimal agg over lineitem
    "dedup_minhash_assign",          # sketch + banded keeper election
    "curation_decontaminate_neardup",  # cross-table LSH decontamination
    "retrieval_rrf_hybrid",          # distributed global ranks
    "corpus_skipgram_pairs",         # exploded token windows
    "events_touch_attribution",      # bucketed range join
    "similarity_binary_recall",      # compressed-scan ANN + baseline
    "graph_label_propagation",       # iterative edge-label rounds
    "embedding_dup_components",      # capped anchor edges + CC closure
    "corpus_wordpiece_train_merges", # vocab-bounded iterative trainer
    "similarity_ivfpq_topk",         # composite ANN: cell prune + ADC
    "dedup_incremental_signatures",  # delta re-sketch + banded election
]

OFFSET = 1 << 33  # id offset per copy: far above any fixture key


def stage(spark, n: int) -> str:
    import hashlib

    tag = hashlib.md5(f"{BASE}:{n}".encode()).hexdigest()[:8]
    out = f"/tmp/spark_graft_scale/x{n}_{tag}"
    done = os.path.join(out, "_STAGED")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    from pyspark.sql import functions as F

    for table, id_cols in SCALED_TABLES.items():
        src = spark.read.parquet(f"{BASE}/{table}.parquet")
        copies = []
        for k in range(n):
            c = src
            for col in id_cols:
                c = c.withColumn(
                    col, (F.col(col) + F.lit(k * OFFSET)).cast("long")
                )
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        # one directory per table; the engine's readers accept dirs
        u.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    for table in LINKED_TABLES:
        dst = f"{out}/{table}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{table}.parquet", dst)
    open(done, "w").close()
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    names = sys.argv[2:] or DEFAULT_QUERIES

    from dc_moving_violations_cloud_etl_spark import catalog
    from dc_moving_violations_cloud_etl_spark.queries import get_queries
    from dc_moving_violations_cloud_etl_spark.session import get_spark

    spark = get_spark()
    qs = get_queries()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: (b[["x"]] for b in it), "x int"
    ).collect()
    scaled_dir = stage(spark, n)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run_tracked(build, d: str, group: str) -> tuple[float, int, int]:
        """Time one run and report (wall s, n_stages, n_tasks) from the
        status tracker, keyed by a per-run job group — per-stage task
        counts are the evidence separating 'more data -> more tasks,
        same per-task cost' (scales out) from 'same tasks, each Nx
        bigger' (a serialization point)."""
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            build(spark, d).collect()
            dt = time.perf_counter() - t0
        finally:
            sc.setJobGroup(None, None)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info:
                stage_ids.update(info.stageIds)
        n_tasks = 0
        for sid in stage_ids:
            sinfo = tracker.getStageInfo(sid)
            if sinfo:
                n_tasks += sinfo.numTasks
        return dt, len(stage_ids), n_tasks

    for name in names:
        row = {"query": name, "n": n}
        for label, d in (("base", BASE), ("scaled", scaled_dir)):
            try:
                dt, n_stages, n_tasks = run_tracked(
                    qs[name], d, f"scale_smoke:{name}:{label}:{n}"
                )
                row[f"t_{label}"] = round(dt, 2)
                row[f"stages_{label}"] = n_stages
                row[f"tasks_{label}"] = n_tasks
            except Exception as exc:  # noqa: BLE001
                row[f"t_{label}"] = None
                row["err"] = f"{type(exc).__name__}: {exc}"[:200]
            finally:
                # drop tracked persists AND the materialized base
                # tables (violations / weather per sf_dir) — one call:
                # catalog.release chains caching.release_tracked.
                # Alternating base/scaled dirs otherwise accumulates
                # BOTH dirs' caches across every measured query, and at
                # 100x the pinned storage starved the execution pool —
                # sink_dedupe_by_key's partial sort-aggregate died with
                # UNABLE_TO_ACQUIRE_MEMORY under ~5 GB of unrelated
                # cached violations (r10). A cluster running one query
                # at a time holds one query's working set; the smoke
                # should too.
                catalog.release(spark)
        if row.get("t_base") and row.get("t_scaled"):
            row["ratio"] = round(row["t_scaled"] / row["t_base"], 2)
        if row.get("tasks_base") and row.get("tasks_scaled"):
            row["task_ratio"] = round(
                row["tasks_scaled"] / row["tasks_base"], 2
            )
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
