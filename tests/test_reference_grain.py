"""The reference surface (Qa–Qh, Q0, V1, V2) planned at the date grain.

Everything after a reference query's first aggregate is date-grain and
runs on one partition (``catalog.dimension_sized``), so the plans need no
range-sampling job, no second shuffle and no weather broadcast. These
tests pin the resulting job budget, and check that the one-partition
steps and the ``shuffle_hash`` weather join stay exact when the shuffle
width or AQE changes (ROADMAP Direction 4, first slice). The same
variants cover one query per explicit spread of the width policy
(operators/width.py): the doc_id spread, the PQ code spread, the
decontam verify spread and semdedup's salted self-join.
"""

from __future__ import annotations

import pytest

from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.queries import QUERIES, get_queries

from .conftest import assert_df_matches_oracle

get_queries()

# jobs per warm run: the fact's partial-aggregate shuffle plus the result
# stage; Qe and V2 read only the one-partition weather cache
JOB_BUDGET = {
    "qa_monthly_agency_tickets": 2,
    "qb_total_tickets_since": 2,
    "qc_avg_tickets_per_weekday": 2,
    "qd_rainy_day_tickets": 2,
    "q0_flagship_rainy_count": 2,
    "qe_monthly_precipitation": 1,
    "qf_monthly_speeding_fines": 2,
    "qg_avg_tickets_per_hour": 2,
    "qh_accidents_rain_vs_dry": 2,
    "v1_violations_verification": 2,
    "v2_weather_verification": 1,
}
REFERENCE = sorted(JOB_BUDGET)
SPREAD = [
    "dedup_minhash_assign",
    "similarity_pq_adc_topk",
    "curation_decontaminate_neardup",
    "semdedup_cluster_pairs",
]


def test_reference_budget_covers_the_tagged_surface():
    tagged = {n for n, s in QUERIES.items() if "reference" in s.tags}
    assert tagged == set(JOB_BUDGET)


def test_reference_queries_stay_in_job_budget(spark, sf_dir):
    """Each query, warm, under its own job group: at most its budget of
    jobs, and no range exchange anywhere in its executed plan."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    over, ranged = {}, []
    try:
        for name in REFERENCE:
            QUERIES[name].build(spark, sf_dir).collect()  # warm
            group = f"job-budget-{name}"
            sc.setJobGroup(group, name)
            df = QUERIES[name].build(spark, sf_dir)
            df.collect()
            jobs = len(tracker.getJobIdsForGroup(group))
            if jobs > JOB_BUDGET[name]:
                over[name] = jobs
            plan = df._jdf.queryExecution().executedPlan().toString()
            if "rangepartitioning" in plan:
                ranged.append(name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not over, f"over budget (jobs): {over}"
    assert not ranged, f"range exchange in: {ranged}"


# shuffle width and AQE must not change any reference or spread result
VARIANTS = {
    "shuffle_partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "shuffle_partitions_7": {"spark.sql.shuffle.partitions": "7"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
}


@pytest.fixture(scope="module", params=sorted(VARIANTS))
def variant(request, spark):
    """Set one variant's confs on a released catalog (the caches rebuild
    under the variant), then release again and restore the confs."""
    confs = VARIANTS[request.param]
    saved = {k: spark.conf.get(k) for k in confs}
    catalog.release(spark)
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield request.param
    finally:
        catalog.release(spark)
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", REFERENCE + SPREAD)
def test_reference_parity_is_partition_invariant(variant, spark, ddb, sf_dir, name):
    spec = QUERIES[name]
    assert_df_matches_oracle(
        spec.build(spark, sf_dir), ddb, spec.oracle, f"{name}@{variant}"
    )
