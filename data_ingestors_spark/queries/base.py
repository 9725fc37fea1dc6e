"""Shared helpers for the query registry."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# the registry's one table loader (UTC session tz asserted per table)
from data_ingestors_spark.io.readers import load_tables as tables


def views(spark: SparkSession, sf_dir: str, *names: str) -> SparkSession:
    """Register the named tables as temp views for spark.sql queries."""
    for name, df in tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
    return spark


# Cross-engine deterministic money aggregates — two independent
# hazards, two mechanisms:
#
# 1. double sums are reduction-order-dependent (Spark partial aggs /
#    DuckDB segment-tree window sums combine in different orders) —
#    fixed by accumulating in a fixed-scale DECIMAL: exact, order-free,
#    and the per-addend double→decimal conversion rounds identically
#    in both engines.
# 2. Spark's round(double, n) rounds the value's shortest *decimal
#    repr* (HALF_UP on BigDecimal.valueOf), DuckDB rounds the *binary*
#    value — they disagree whenever the repr sits exactly on a half
#    boundary (systematic for avgs over power-of-two-sized groups) —
#    fixed by rounding as floor(x*10^n + 0.5)/10^n in BOTH engines:
#    identical IEEE ops on identical doubles, no repr anywhere.
DEC = "decimal(30,10)"

from data_ingestors_spark.functions.rounding import fround, o_fround  # noqa: E402


def dsum(expr: "F.Column", nd: int = 2) -> "F.Column":
    """Order-independent sum rounded to nd decimals (both hazards)."""
    return fround(F.sum(expr.cast(DEC)).cast("double"), nd)


def davg(expr: "F.Column", nd: int = 4) -> "F.Column":
    """Order-independent mean: exact decimal sum / count, in double."""
    return fround(F.sum(expr.cast(DEC)).cast("double") / F.count(expr), nd)


def o_dsum(sql_expr: str, nd: int = 2) -> str:
    return o_fround(f"CAST(sum(CAST({sql_expr} AS DECIMAL(30,10))) AS DOUBLE)", nd)


def o_davg(sql_expr: str, nd: int = 4) -> str:
    return o_fround(
        f"CAST(sum(CAST({sql_expr} AS DECIMAL(30,10))) AS DOUBLE) / count({sql_expr})", nd
    )
