"""The shared daily-revenue frame agrees with its DuckDB twin."""

from __future__ import annotations

import pytest

from finanalyzer_spark.catalog import load
from finanalyzer_spark.plans.daily import daily_revenue, daily_revenue_sql

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle import compare, duck_connection


@pytest.mark.parametrize(
    "sf_dir", sorted({SF_DIR, SF_DIR_ORACLE}), ids=lambda p: p.rsplit("/", 1)[-1]
)
def test_daily_revenue_matches_oracle_cte(spark, sf_dir):
    df = daily_revenue(load(spark, sf_dir).orders, "rev")
    assert df.columns == ["d", "rev"]
    assert df.schema["rev"].dataType.typeName() == "long"
    con = duck_connection(sf_dir)
    try:
        # DuckDB sums BIGINT into HUGEINT, which pandas reads as float,
        # and hands DATE to pandas as a timestamp: cast both back
        duck_pdf = con.sql(
            f"WITH daily AS ({daily_revenue_sql('rev')})"
            " SELECT d, CAST(rev AS BIGINT) AS rev FROM daily"
        ).df()
    finally:
        con.close()
    duck_pdf["d"] = duck_pdf["d"].dt.date
    spark_pdf = df.toPandas()
    assert len(spark_pdf) > 0
    ok, msg = compare(spark_pdf, duck_pdf)
    assert ok, msg
