"""State-store reader demonstrator (streaming/statestore.py): the
``statestore`` batch source over a completed streaming checkpoint must
equal the flat batch aggregate — on the cold path (stream driven this
session) AND the warm path (checkpoint already committed; only the
reader runs, exercising the lazy StateStoreCoordinator bootstrap)."""

from __future__ import annotations

import shutil

from dc_moving_violations_cloud_etl_spark import scratch
from dc_moving_violations_cloud_etl_spark.streaming import statestore

from .conftest import assert_df_matches_oracle

_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type ORDER BY event_type
"""


def test_statestore_cold_then_warm(spark, sf_dir, ddb):
    # force the cold path: wipe this fixture's checkpoint
    ckpt = scratch.fixture_dir("ssread_ckpt", sf_dir, "events.parquet")
    shutil.rmtree(ckpt, ignore_errors=True)

    cold = statestore.statestore_counts(spark, sf_dir)
    assert_df_matches_oracle(cold, ddb, _ORACLE, "statestore-cold")

    # warm path: checkpoint committed, no stream is driven — read only
    warm = statestore.statestore_counts(spark, sf_dir)
    assert_df_matches_oracle(warm, ddb, _ORACLE, "statestore-warm")
