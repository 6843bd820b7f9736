"""The fixture reader: ``catalog`` owns each fixture's path, schema and
reads. A fixture's schema is inferred once per file generation in the
process, so reading or building over the fixtures runs no inference
job after the first, and no other module reads a fixture by hand."""

from __future__ import annotations

import ast
import re
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import dc_moving_violations_cloud_etl_spark as pkg
from dc_moving_violations_cloud_etl_spark import catalog
from dc_moving_violations_cloud_etl_spark.queries import QUERIES, get_queries


def _jobs(spark, group: str, fn):
    """Run ``fn()`` under its own job group; its result and job count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_building_over_read_fixtures_runs_no_job(spark, sf_dir):
    """After one read of each table, building a seven-table TPC-H
    query infers nothing again (it ran one inference job per table)."""
    for name in catalog.BASE_TABLES:
        catalog.base(spark, sf_dir, name)
    get_queries()
    _, jobs = _jobs(
        spark,
        "fixtures-q8-build",
        lambda: QUERIES["tpch_q8_market_share"].build(spark, sf_dir),
    )
    assert jobs == 0


def test_a_new_generation_is_read_again(spark, sf_dir, tmp_path):
    sf = str(tmp_path)
    shutil.copy(catalog.fixture_path(sf_dir, "region"), tmp_path)
    old = pq.read_table(tmp_path / "region.parquet")

    def schema():
        return catalog.fixture_schema(spark, sf, "region")

    first, jobs = _jobs(spark, "fixtures-gen-first", schema)
    assert first.names == old.column_names and jobs >= 1
    again, jobs = _jobs(spark, "fixtures-gen-again", schema)
    assert again == first and jobs == 0

    pq.write_table(
        old.append_column("r_extra", pa.array(range(old.num_rows))),
        tmp_path / "region.parquet",
    )
    new = schema()
    assert new.names == old.column_names + ["r_extra"]
    df = catalog.base(spark, sf, "region")
    assert df.columns == new.names
    assert sorted(r.r_extra for r in df.collect()) == list(range(old.num_rows))


# -- pin: catalog.py is the one fixture reader ------------------------------

# a ``{sf_dir}/<table>.parquet`` f-string
_PATH_LITERAL = re.compile(r"\{sf_dir\}/")


def _fixture_reads(tree: ast.AST) -> list[int]:
    """Lines of Spark ``.parquet(...)`` reads whose argument is a fixture
    path: a ``fixture_path(...)`` call, a name bound to one, or any
    expression over ``sf_dir``. (The pyarrow readers in ``paged_api``
    and in the executor-side ``make_daily_ingest_source*`` readers are
    not Spark reads and are not matched.)"""

    def is_fixture_path(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", getattr(node.func, "attr", None))
            == "fixture_path"
        )

    bound = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and is_fixture_path(node.value)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        for arg in node.args
        for sub in ast.walk(arg)
        if is_fixture_path(sub)
        or (isinstance(sub, ast.Name) and sub.id in bound | {"sf_dir"})
    ]


def _fixture_access(text: str) -> list[str]:
    tree = ast.parse(text)
    kinds = []
    if _PATH_LITERAL.search(text):
        kinds.append("builds a fixture path")
    if any(
        (isinstance(n, ast.alias) and n.name == "read_parquet")
        or (isinstance(n, ast.Name) and n.id == "read_parquet")
        or (isinstance(n, ast.Attribute) and n.attr == "read_parquet")
        for n in ast.walk(tree)
    ):
        kinds.append("names read_parquet")
    if _fixture_reads(tree):
        kinds.append("reads a fixture with Spark")
    return kinds


def test_only_catalog_locates_or_reads_a_fixture():
    root = Path(pkg.__file__).parent
    found = {
        str(p.relative_to(root)): kinds
        for p in sorted(root.rglob("*.py"))
        if (kinds := _fixture_access(p.read_text()))
    }
    assert found == {
        "catalog.py": ["builds a fixture path", "reads a fixture with Spark"]
    }
