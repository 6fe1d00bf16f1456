"""Tier C core relational surface fill-in (SURVEY §2 rows C1-C9, C40,
plus B4-B6) — the projection/filter/conditional/cast backbone every
SQL engine must expose, each as an oracle-paired query.

These are all Catalyst builtins; the value of the rows is the proof:
each query hash-matches DuckDB on the same parquet, and the plans keep
filters and projections pushed into the scan (asserted in
tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cortex_spark.operators.localframe import local_df
from etl_cortex_spark.queries import T, query

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)
NATION_CSV = os.path.join(FIXTURES, "nation.csv")


# --- C1: parquet scan with predicate + column pushdown ----------------------


@query(
    "c01_parquet_scan_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_quantity < 5
    """,
)
def c01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter and the 3-column projection both reach the parquet
    reader (PushedFilters / ReadSchema — see test_plans.py)."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_quantity") < 5)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# --- C2: CSV scan with schema inference --------------------------------------


@query(
    "c02_csv_scan_inferred",
    oracle=f"""
    SELECT count(*) AS n_rows, count(DISTINCT n_regionkey) AS n_regions
    FROM read_csv_auto('{NATION_CSV}')
    """,
)
def c02(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.csv(NATION_CSV, header=True, inferSchema=True)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("n_regionkey").alias("n_regions"),
    )


# --- C4: in-memory table registration ----------------------------------------


@query(
    "c04_inmemory_registration",
    oracle="""
    SELECT tier, count(*) AS n
    FROM (VALUES (1,'gold'),(2,'silver'),(3,'gold'),(4,'bronze'),(5,'gold')) AS t(id, tier)
    GROUP BY tier ORDER BY n DESC, tier
    """,
)
def c04(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [(1, "gold"), (2, "silver"), (3, "gold"), (4, "bronze"), (5, "gold")]
    local_df(spark, rows, "id int, tier string").createOrReplaceTempView(
        "c04_mem"
    )
    return spark.sql(
        "SELECT tier, count(*) AS n FROM c04_mem GROUP BY tier"
    )


# --- C6: projection / aliasing / computed columns -----------------------------


@query(
    "c06_projection_computed",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def c06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round AT the expressions' exact decimal width (price×discount =
    4 digits, ×tax = 6): rounding at a narrower width lands on .5
    boundaries where Spark (decimal-rendering HALF_UP) and DuckDB
    (binary-value rounding) disagree — SURVEY §7 'oracle drift'."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(net, 4).alias("net_price"),
        F.round(net * (1 + F.col("l_tax")), 6).alias("charged"),
    )


# --- C7: the WHERE-clause predicate zoo ---------------------------------------


@query(
    "c07_predicate_zoo",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 150000
      AND o_orderstatus IN ('O', 'F')
      AND o_orderpriority LIKE '%URGENT%'
      AND o_orderdate IS NOT NULL
      AND (o_custkey % 3 = 0 OR o_orderkey % 2 = 1)
    """,
)
def c07(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(50000, 150000)
        & F.col("o_orderstatus").isin("O", "F")
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_orderdate").isNotNull()
        & ((F.col("o_custkey") % 3 == 0) | (F.col("o_orderkey") % 2 == 1))
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


# --- C8: CASE WHEN / IF / COALESCE / NULLIF / 3VL -----------------------------


@query(
    "c08_case_when_3vl",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
           (o_totalprice > 150000 AND NULL) IS NULL AS tri_state_null
    FROM orders WHERE o_orderkey < 200
    """,
)
def c08(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
            "status_label"
        ),
        ((F.col("o_totalprice") > 150000) & F.lit(None).cast("boolean"))
        .isNull()
        .alias("tri_state_null"),
    )


# --- C9: CAST / TRY_CAST ------------------------------------------------------


@query(
    "c09_cast_try_cast",
    oracle="""
    SELECT doc_id,
           CAST(doc_id AS VARCHAR) AS id_str,
           TRY_CAST(lang AS INTEGER) AS lang_as_int,
           TRY_CAST(substr(text, 1, 4) AS BIGINT) AS text_prefix_num,
           CAST(n_chars AS DOUBLE) AS n_chars_dbl
    FROM documents WHERE doc_id < 50
    """,
)
def c09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAST always-succeeds paths + TRY_CAST failure→NULL paths (a
    non-numeric lang code and a mostly-non-numeric text prefix)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("id_str"),
        F.col("lang").try_cast("int").alias("lang_as_int"),
        F.substring("text", 1, 4).try_cast("bigint").alias("text_prefix_num"),
        F.col("n_chars").cast("double").alias("n_chars_dbl"),
    )


# --- C40: EXPLAIN surface (rows-only: plans are engine-specific) --------------


@query("c40_explain")
def c40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN as data: the formatted physical plan of a representative
    query, one row. Not oracle-comparable (DuckDB plans differ by
    construction) — the driver's rows-only check applies."""
    li = T(spark, sf_dir, "lineitem")
    plan = (
        li.filter(F.col("l_quantity") < 5)
        .groupBy("l_returnflag")
        .count()
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    return local_df(spark, [(plan,)], "plan string")


# --- B4: silver string→datetime conversion ------------------------------------


@query(
    "b04_string_to_datetime",
    oracle="""
    SELECT raw_ts,
           CAST(try_strptime(raw_ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS parsed
    FROM (VALUES ('2024-01-10 12:00:00'), ('not a date'), ('2023-06-30 23:59:59'), (NULL))
         AS t(raw_ts)
    """,
)
def b04(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [("2024-01-10 12:00:00",), ("not a date",), ("2023-06-30 23:59:59",), (None,)]
    df = local_df(spark, rows, "raw_ts string")
    return df.select(
        "raw_ts", F.try_to_timestamp(F.col("raw_ts")).alias("parsed")
    )


# --- B5: gold column selection ------------------------------------------------


@query(
    "b05_column_selection",
    oracle="SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_custkey <= 100",
)
def b05(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .select("c_custkey", "c_name", "c_nationkey")
    )


# --- B6: gold drop-duplicates -------------------------------------------------


@query(
    "b06_drop_duplicates",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority
    FROM orders
    """,
)
def b06(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").dropDuplicates()
