"""The named query inventory: SURVEY.md §2 rows → (Spark builder, oracle SQL).

Every entry is one row of the §2 operator inventory expressed twice:

- a Spark builder ``(spark, sf_dir) -> DataFrame`` — the engine under test,
- an ANSI-SQL string DuckDB runs on the same parquet — the oracle.

Hash-match discipline (SURVEY §7 "what's hard" #2):
- every computed column is aliased IDENTICALLY on both sides;
- derived doubles (sums/avgs over floats) are ``round(x, 2)`` on both
  sides so summation-order ULP noise cannot flip the value hash;
- raw event timestamps are nanosecond in parquet: Spark truncates to
  microseconds on read, so the oracle always goes through
  ``CAST(ts AS TIMESTAMP)`` (µs) before emitting or ordering by ``ts``;
- LIMIT/top-k queries carry a total order (unique-key tiebreaker).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cortex_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: the events medallion (SURVEY §7 step 1).
# bronze (raw parquet) → silver (typed/derived: JSON prop extraction D9,
# title-cased event_type A8-style) → gold (dedup keep-latest per
# (user_id, event_type): A13 as a max_by AGGREGATE; count/value summary
# per type: A15). One lazy plan end-to-end.
#
# The dedup is gold.dedup_latest_agg's strategy, not a window (swapped
# round 5): max_by over the ordering struct (ts, event_id) picks the
# SAME survivor as row_number() ... ORDER BY ts DESC, event_id DESC
# because event_id makes the order total — but the partial (map-side)
# aggregate means the (user_id, event_type) exchange carries at most
# one candidate per key per input partition instead of every event
# row, and no per-partition sort is needed. At 100 TB with heavy
# duplication, shuffle bytes are the dominant cost — this is the
# shuffle-lean shape. The oracle keeps the window formulation, which
# also pins the survivor-equality claim every round.
# ---------------------------------------------------------------------------


@query(
    "flagship_events_medallion",
    oracle="""
    WITH silver AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value,
             upper(substr(event_type, 1, 1)) || substr(event_type, 2) AS event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
      FROM events
    ), gold AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM silver
    )
    SELECT event_type,
           count(*) AS qtd,
           round(sum(value), 2) AS total_value,
           round(avg(prop_k), 2) AS avg_k
    FROM gold WHERE rn = 1
    GROUP BY event_type
    ORDER BY qtd DESC, event_type
    """,
)
def flagship_events_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    bronze = T(spark, sf_dir, "events")
    silver = bronze.select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.concat(
            F.upper(F.substring("event_type", 1, 1)),
            F.expr("substring(event_type, 2)"),
        ).alias("event_type"),
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )
    gold = silver.groupBy("user_id", "event_type").agg(
        F.max_by(
            F.struct("value", "prop_k"), F.struct("ts", "event_id")
        ).alias("__m")
    )
    return (
        gold.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("qtd"),
            F.round(F.sum("__m.value"), 2).alias("total_value"),
            F.round(F.avg("__m.prop_k"), 2).alias("avg_k"),
        )
    )


# Populate the registry with the full tier inventory (import must stay
# at the bottom: the tier modules import `query`/`T` from this module).
from etl_cortex_spark import inventory  # noqa: E402,F401
