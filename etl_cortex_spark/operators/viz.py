"""Plot-ready aggregation helpers (SURVEY §2 rows B12-B14).

The reference declares Plotly histograms / time series / category bars
(``/root/reference/README.md:41-44``) but ships no code for them; the
engine-side contract is the *aggregation* that feeds a chart — small
result frames, computed distributed. Rendering stays out of scope.

Each helper is one map-side-combinable hash aggregate: safe at any
input size, output bounded by bins/days/categories.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def histogram(
    df: DataFrame,
    col: str | Column,
    lo: float,
    width: float,
    count_name: str = "n",
) -> DataFrame:
    """B12: fixed-width binning + count. ``bin`` is the 0-based bucket
    index from ``lo``; values below ``lo`` land in negative bins rather
    than being dropped silently."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        df.select(
            F.floor((c - F.lit(float(lo))) / F.lit(float(width)))
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias(count_name))
    )


def time_series(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str | None = "value",
    grain: str = "day",
) -> DataFrame:
    """B13: event count (and optional value sum) per time bucket."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("total_value"))
    return (
        df.groupBy(F.date_trunc(grain, F.col(ts_col)).alias(grain))
        .agg(*aggs)
    )


def category_counts(df: DataFrame, col: str, count_name: str = "qtd") -> DataFrame:
    """B14: identical to the gold value_counts (A15) — re-exported here
    as the chart-feeding name."""
    from etl_cortex_spark.operators.gold import value_counts

    return value_counts(df, col, count_name)
