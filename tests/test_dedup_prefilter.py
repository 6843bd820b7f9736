"""Guards of the dedup/similarity verify paths that no oracle sees:

- the size-ratio prefilter (operators/dedup.py::_size_ratio_ok) may only
  skip pairs the ``jaccard >= threshold`` filter would drop anyway, for
  any threshold in (0, 1] — not just the module's 0.5;
- every explicit repartition takes its width from one policy
  (operators/width.py): the default parallelism, whatever
  ``spark.sql.shuffle.partitions`` says, ``auto`` included.
"""

from __future__ import annotations

from fractions import Fraction
from pathlib import Path

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

import dc_moving_violations_cloud_etl_spark as pkg
from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.operators import similarity
from dc_moving_violations_cloud_etl_spark.operators.dedup import (
    _jaccard,
    _size_ratio_ok,
)
from dc_moving_violations_cloud_etl_spark.operators.width import spread

SETS = st.sets(st.integers(min_value=0, max_value=11), min_size=1, max_size=12)

# thresholds at and next to the ratios small sets reach (p/q, q <= 12),
# where a hand-scaled or rounding-blind bound drops a passing pair
NEAR_RATIOS = st.builds(
    lambda p, q, eps: float(Fraction(min(p, q), q)) + eps,
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.sampled_from([0.0, -1e-7, 1e-7, 4e-7, 6e-7]),
).filter(lambda t: 0 < t <= 1)

THRESHOLDS = st.one_of(
    st.floats(min_value=0, max_value=1, exclude_min=True), NEAR_RATIOS
)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(THRESHOLDS, st.lists(st.tuples(SETS, SETS), min_size=1, max_size=30))
# J = 0.4 = min/max: the old hardcoded factor 2 dropped it at T = 0.4
@example(0.4, [({0, 1}, {0, 1, 2, 3, 4})])
# J rounds to 0.666667 >= T while the exact ratio 2/3 < T
@example(0.6666668, [({0, 1}, {0, 1, 2})])
def test_size_ratio_prefilter_never_drops_a_passing_pair(spark, t, pairs):
    df = spark.createDataFrame(
        [([f"s{x}" for x in sorted(a)], [f"s{x}" for x in sorted(b)])
         for a, b in pairs],
        "a array<string>, b array<string>",
    )
    rows = df.select(
        _jaccard(F.col("a"), F.col("b")).alias("j"),
        _size_ratio_ok(F.col("a"), F.col("b"), t).alias("ok"),
    ).collect()
    dropped = [(r["j"], p) for r, p in zip(rows, pairs) if r["j"] >= t and not r["ok"]]
    assert not dropped, f"threshold {t}: prefilter dropped {dropped}"


def _conf_auto(monkeypatch):
    """Make the session report ``spark.sql.shuffle.partitions=auto``, the
    value some Spark platforms accept (open-source Spark rejects setting
    it, so the read is patched)."""
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)


def test_shuffle_width_reads_the_conf(spark):
    # the spread width ignores whatever shuffle.partitions says
    par = spark.sparkContext.defaultParallelism
    df = spark.range(20).withColumnRenamed("id", "k")
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for width in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            assert spread(df, "k").rdd.getNumPartitions() == par, width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_shuffle_width_falls_back_on_auto(spark, sf_dir, monkeypatch):
    _conf_auto(monkeypatch)
    par = spark.sparkContext.defaultParallelism
    docs = spark.range(20).withColumnRenamed("id", "doc_id")
    assert spread(docs, "doc_id").rdd.getNumPartitions() == par
    codes = similarity.pq_encode(catalog.base(spark, sf_dir, "embeddings"))
    assert codes.count() > 0


def test_default_parallelism_is_read_only_by_the_width_policy():
    root = Path(pkg.__file__).parent
    readers = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "defaultParallelism" in p.read_text()
    )
    assert readers == ["operators/width.py"]
