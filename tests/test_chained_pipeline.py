"""Exactly-once invariants of the multi-hop streaming pipeline
(stream_chained_pipeline): after the bronze stage drains, every landed
part file is referenced by exactly one batch manifest, every
manifest-referenced file exists, and manifest row counts sum to the
batch-read row count."""

from __future__ import annotations

import glob
import json
import os

from dc_moving_violations_cloud_etl_spark import scratch
from dc_moving_violations_cloud_etl_spark.queries import QUERIES, get_queries

get_queries()


def test_bronze_manifests_cover_exactly_the_part_files(spark, sf_dir):
    res = QUERIES["stream_chained_pipeline"].build(spark, sf_dir)
    rollup_rows = res.collect()
    assert rollup_rows, "chained pipeline produced no rollup rows"

    bronze = os.path.join(scratch.ROOT, f"chain_{os.getpid()}", "bronze")
    assert os.path.isdir(bronze), "bronze hand-off dir missing"

    referenced: list[str] = []
    total_manifest_rows = 0
    for mf in sorted(glob.glob(os.path.join(bronze, "_BATCH*_MANIFEST"))):
        with open(mf) as f:
            m = json.load(f)
        referenced += m["files"]
        total_manifest_rows += m["n_rows"]
    assert referenced, "no batch manifests published"
    # exactly-once: referenced set == on-disk part files, no dupes
    assert len(referenced) == len(set(referenced))
    on_disk = {
        os.path.basename(p)
        for p in glob.glob(os.path.join(bronze, "part-*.jsonl"))
    }
    assert set(referenced) == on_disk
    # and the manifest row accounting matches the landed data
    landed = sum(
        1
        for p in on_disk
        for _ in open(os.path.join(bronze, p))
    )
    assert landed == total_manifest_rows
    # which equals the silver rollup's total
    assert sum(r["n_clicks"] for r in rollup_rows) == total_manifest_rows
