"""The daily-revenue series, one definition per engine.

Every time-series query over orders starts from the same frame: one
row per calendar day, revenue summed in integer cents (rounded per
order, so both engines add the same exact longs). The Spark frame and
its DuckDB twin live side by side here so the two cannot drift.

This module registers no query; the queries that use it import it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_revenue(orders: DataFrame, name: str) -> DataFrame:
    """(d date, <name> long): per-day sum of o_totalprice in cents."""
    return (
        orders.select(
            F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias(name))
    )


def daily_revenue_sql(name: str) -> str:
    """Oracle twin of `daily_revenue`: the body of a `daily` CTE."""
    return f"""
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS {name}
        FROM orders GROUP BY 1
    """
