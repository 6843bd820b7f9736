"""MySQL-dialect SQL-text path (sql_compat): translation unit tests +
end-to-end equivalence with the DataFrame implementations."""

from __future__ import annotations

from pyspark.sql import functions as F

from dc_moving_violations_cloud_etl_spark.sql_compat import run_sql, translate


def test_field_inlined_any_clause():
    out = translate("ORDER BY FIELD(wd, 'Mon', 'Tue')")
    assert "array_position(array('Mon', 'Tue'), wd)" in out
    assert "FIELD(" not in out


def test_field_nested_args_and_case():
    out = translate("SELECT field(lower(x), concat(a, ','), b) FROM t")
    assert "array_position(array(concat(a, ','), b), lower(x))" in out


def test_dayname_and_date_format_rewritten():
    out = translate("SELECT DAYNAME(d), DATE_FORMAT(ts, '%Y-%m') FROM t")
    assert "MYSQL_DAYNAME(d)" in out
    assert "MYSQL_DATE_FORMAT(ts, '%Y-%m')" in out


def test_mysql_text_matches_dataframe_qc(spark, sf_dir):
    """The MySQL Qc text must produce exactly the DataFrame Qc result."""
    from dc_moving_violations_cloud_etl_spark.queries.reference import _qc
    from dc_moving_violations_cloud_etl_spark.queries.sql_text import _QC_MYSQL

    via_text = run_sql(spark, sf_dir, _QC_MYSQL).collect()
    via_df = _qc(spark, sf_dir).collect()
    assert [tuple(r) for r in via_text] == [tuple(r) for r in via_df]


def test_shims_semantics(spark, sf_dir):
    """DAYNAME full names; FIELD absent value -> 0; %-format tokens."""
    row = run_sql(
        spark,
        sf_dir,
        """
        SELECT DAYNAME(DATE'2026-08-13') AS wd,
               FIELD('x', 'a', 'b') AS missing,
               FIELD('b', 'a', 'b') AS found,
               DATE_FORMAT(TIMESTAMP'2026-08-13 14:07:00', '%Y-%m-%d %H:%i')
                 AS fmt
        """,
    ).first()
    assert row["wd"] == "Thursday"
    assert row["missing"] == 0
    assert row["found"] == 2
    assert row["fmt"] == "2026-08-13 14:07"


def test_translate_ci_like_rewrites_outside_literals():
    from dc_moving_violations_cloud_etl_spark.sql_compat import translate

    out = translate(
        "SELECT * FROM t WHERE a LIKE '%x%' AND b NOT LIKE 'say LIKE this'",
        ci_like=True,
    )
    assert "a ILIKE '%x%'" in out
    assert "b NOT ILIKE 'say LIKE this'" in out  # literal content untouched


def test_translate_decimal_sums_and_literals():
    from dc_moving_violations_cloud_etl_spark.sql_compat import translate

    out = translate("SELECT SUM(x + SUM_NOT(y)), 'SUM(z)' FROM t",
                    exact_decimal_sums=True)
    # literal untouched; SUM( routed; SUM_NOT untouched (word boundary)
    assert "'SUM(z)'" in out
    assert "CAST(SUM(CAST((x + SUM_NOT(y)) AS DECIMAL(18,2))) AS DOUBLE)" in out


def test_translate_skips_rewrites_inside_literals():
    from dc_moving_violations_cloud_etl_spark.sql_compat import translate

    out = translate("SELECT DAYNAME(d), 'see DATE_FORMAT(x)' FROM t")
    assert "MYSQL_DAYNAME(d)" in out
    assert "'see DATE_FORMAT(x)'" in out


def test_escaped_quote_literals_do_not_derail_rewrites():
    """MySQL's default backslash escape: an escaped quote stays INSIDE
    its literal. Pre-fix the phantom literal opened at the real closing
    quote swallowed the following code region, so DAYNAME there was
    never rewritten (r10 review finding)."""
    out = translate(
        "SELECT * FROM t WHERE loc = 'O\\'Brien' "
        "AND DAYNAME(violation_date) = 'Monday'"
    )
    assert "MYSQL_DAYNAME" in out
    assert "O\\'Brien" in out  # the literal itself is untouched
    # and tokens INSIDE a literal still never rewrite
    out2 = translate("SELECT 'DAYNAME(\\'x\\')' AS s, DAYNAME(d) FROM t")
    assert out2.count("MYSQL_DAYNAME") == 1


def test_decimal_sums_keep_distinct_outside_the_cast():
    """SUM(DISTINCT x) must stay parseable: the DISTINCT quantifier
    belongs to the aggregate, not the cast expression (r10 review
    finding)."""
    out = translate(
        "SELECT SUM(DISTINCT fine_amount) FROM v", exact_decimal_sums=True
    )
    assert (
        "SUM(DISTINCT CAST((fine_amount) AS DECIMAL(18,2)))" in out
    ), out
    plain = translate("SELECT SUM(x) FROM t", exact_decimal_sums=True)
    assert "SUM(CAST((x) AS DECIMAL(18,2)))" in plain


def test_decimal_sum_distinct_executes(spark, sf_dir):
    from dc_moving_violations_cloud_etl_spark.sql_compat import run_sql

    rows = run_sql(
        spark,
        sf_dir,
        "SELECT SUM(DISTINCT fine_amount) AS s FROM violations",
        exact_decimal_sums=True,
    ).collect()
    assert len(rows) == 1 and rows[0]["s"] is not None
