"""Tier C inventory (relational): joins C10-C16, aggregation C17-C25,
windows C26-C29, sort/limit/top-k/sampling C30-C33, set ops C34-C36,
query structure C37-C39 (SURVEY §2).

Plan-shape notes are on each query: what shuffles, what broadcasts,
what AQE is expected to do at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cortex_spark.operators.asof import asof_join
from etl_cortex_spark.operators.localframe import local_df
from etl_cortex_spark.operators.quantiles import exact_percentile_disc
from etl_cortex_spark.queries import T, query

# --- Joins -------------------------------------------------------------------

#: the orders-by-CUSTKEY projection — the SECONDARY-projection layout
#: (same fact, second key) shared by every customer-key consumer:
#: c10's join+agg reads (o_custkey, o_totalprice); tpch q3/q5 read
#: (o_custkey, o_orderkey, o_orderdate) to build their cut
#: customers⋈orders product WITHOUT exchanging either input (round-9
#: sf10 decomposition: that co build was 1.3 of q3's 2.9 s). One
#: 4-column layout serves all three — scans still column-prune.
_ORDERS_BY_CUSTKEY_COLS = ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"]


def _orders_by_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders in its customer-key warehouse layout: bucketed on
    o_custkey, bucket count from `layout.fact_buckets` (data-sized;
    the bucketed side's HashPartitioning dictates join/agg
    parallelism, so the count must scale with bytes AND match the
    customer layout's). Fact side
    of every customer-key join (c10, q3/q5's co build); bench.py
    builds it in its explicit ingest phase."""
    from etl_cortex_spark.operators.layout import bucketed_fact, fact_buckets

    return bucketed_fact(
        spark, sf_dir, "orders", "o_custkey", _ORDERS_BY_CUSTKEY_COLS,
        fact_buckets(sf_dir),
    )


@query(
    "c10_join_inner_agg",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def c10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + agg over the warehouse layout: BOTH sides arrive in
    their customer-key secondary-projection layouts (orders bucketed
    on o_custkey, customer on c_custkey, equal data-sized counts via
    `layout.fact_buckets` — the D93 ingest discipline), so the join
    needs NO data-sized exchange at all: each scan reports
    ``HashPartitioning(custkey, n)`` and the
    shuffle-hash build is |customer-bucket| per task at any scale (a
    broadcast would be a driver hash build that inverts at 100 TB).
    The aggregate is map-side partial into a |segment|-row exchange —
    the ONLY exchange in the query; both facts stream straight from
    their co-located buckets."""
    from etl_cortex_spark.inventory.tier_tpch import _customer_by_custkey

    cust = _customer_by_custkey(spark, sf_dir)
    orders = _orders_by_custkey(spark, sf_dir)
    return (
        cust.hint("shuffle_hash")
        .join(orders, cust.c_custkey == orders.o_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "c11_join_left_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def c11(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "c11_join_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def c11b(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@query(
    "c12_join_semi",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_with_orders FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def c12(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )


@query(
    "c12_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def c12b(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "c13_cross_join",
    oracle="""
    SELECT r_name, o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def c13(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = T(spark, sf_dir, "region").select("r_name")
    status = T(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


@query(
    "c14_theta_range_join",
    oracle="""
    SELECT b.label AS size_class, count(*) AS n_parts
    FROM part p
    JOIN (VALUES ('small', 1, 15), ('medium', 16, 35), ('large', 36, 50))
         b(label, lo, hi)
      ON p.p_size BETWEEN b.lo AND b.hi
    GROUP BY b.label ORDER BY b.label
    """,
)
def c14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join → broadcast-nested-loop against a tiny inline
    VALUES table (C39). The small side is explicit-broadcast: at any
    scale the bucket table is constant-size, so BNLJ is O(n·buckets)
    with zero shuffle of the big side."""
    part = T(spark, sf_dir, "part")
    buckets = local_df(
        spark,
        [("small", 1, 15), ("medium", 16, 35), ("large", 36, 50)],
        "label string, lo int, hi int",
    )
    return (
        part.join(
            F.broadcast(buckets),
            (part.p_size >= buckets.lo) & (part.p_size <= buckets.hi),
        )
        .groupBy(F.col("label").alias("size_class"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@query(
    "c15_broadcast_join",
    oracle="""
    SELECT r_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def c15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hints on both dims — the star-join pattern:
    fact streams once, no shuffle until the final small aggregate."""
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "c16_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, c.event_id AS click_event_id, c.value AS click_value
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def c16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join via the union+window rewrite (operators/asof.py): each
    purchase gets the user's most recent preceding click."""
    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"])
    return out.select("event_id", "user_id", "click_event_id", "click_value")


# --- Aggregation -------------------------------------------------------------


@query(
    "c17_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def c17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical hash-aggregate with map-side partials.
    Filter + 2-col grouping over the fact table; scan should show
    PushedFilters on l_shipdate and a pruned ReadSchema."""
    li = T(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "c18_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def c18(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


@query(
    "c19_approx_count_distinct",
    oracle="SELECT true AS orders_within_5pct, true AS parts_within_5pct",
)
def c19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). Raw sketch values are engine
    -specific, so the oracle-checkable contract is the ERROR BOUND: the
    query emits whether each estimate lands within 5% of the exact
    count (computed in the same plan), and the oracle pins both flags
    true — an epsilon oracle instead of a rows-only pass.

    Round 19: the sketches and the exact counts are computed in TWO
    aggregates joined on their 1-row outputs, not one. Mixing
    approx_count_distinct with count(DISTINCT) in a single Aggregate
    triggers the planner's distinct-rewrite (Expand + group-by the
    distinct columns), which evaluates the HLL++ partial PER DISTINCT
    VALUE GROUP — ~1.2M groups each allocating a 2^14-register sketch
    buffer instead of one per partition. Measured at sf0.1:
    125-173 s combined vs 1.9 s + 0.3 s split (~75×); same estimates,
    same exact counts, same flags. The 1-row cross join is a
    broadcast-nested-loop of two singletons — no data shuffle."""
    li = T(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("a_o"),
        F.approx_count_distinct("l_partkey", 0.01).alias("a_p"),
    )
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("e_o"),
        F.countDistinct("l_partkey").alias("e_p"),
    )
    est = approx.crossJoin(exact)
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= 0.05
    )
    return est.select(
        within("a_o", "e_o").alias("orders_within_5pct"),
        within("a_p", "e_p").alias("parts_within_5pct"),
    )


@query(
    "c20_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders FROM orders
    GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY n_orders DESC, o_custkey
    """,
)
def c20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "c21_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def c21(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "c21_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
           count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def c21b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "c22_conditional_agg",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           round(sum(l_extendedprice) FILTER (WHERE l_tax > 0.04), 2) AS taxed_price,
           round(sum(CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END), 2) AS big_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def c22(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
            F.round(
                F.sum(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 2
            ).alias("taxed_price"),
            F.round(
                F.sum(F.when(F.col("l_quantity") > 25, F.col("l_quantity")).otherwise(0.0)),
                2,
            ).alias("big_qty"),
        )
    )


@query(
    "c23_stat_aggs",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qty_price,
           round(median(l_quantity), 2) AS med_qty,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def c23(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
            F.round(F.median("l_quantity"), 2).alias("med_qty"),
            F.round(F.percentile("l_extendedprice", 0.9), 2).alias("p90_price"),
        )
    )


@query(
    "c24_collect_set",
    oracle="""
    SELECT o_orderstatus,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def c24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → joined to a string so the value-hash is
    order-stable (set order is nondeterministic by definition)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
                "priorities"
            )
        )
    )


@query(
    "c25_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def c25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — never let Spark run the
    extra distinct-values job at scale."""
    out = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return out.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@query(
    "c25_unpivot",
    oracle="""
    SELECT o_orderpriority, 'F' AS status, count(*) FILTER (WHERE o_orderstatus='F') AS n
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT o_orderpriority, 'O', count(*) FILTER (WHERE o_orderstatus='O')
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT o_orderpriority, 'P', count(*) FILTER (WHERE o_orderstatus='P')
    FROM orders GROUP BY o_orderpriority
    """,
)
def c25b(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    wide = wide.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )
    return wide.unpivot(
        "o_orderpriority", ["F", "O", "P"], variableColumnName="status", valueColumnName="n"
    )


# --- Window functions ---------------------------------------------------------


@query(
    "c26_window_ranking",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def c26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window family (row_number/rank/dense_rank/ntile/
    percent_rank) — the SQL-surface parity demo. Scale note: ntile and
    percent_rank need their whole partition (not WindowGroupLimit-
    prunable), so this entry is allowlisted in the ntile-family plan
    audit; a data-sized pipeline assigns quantile buckets with
    `skew.grouped_ntile` / `global_ntile` (two-phase census — the d111
    pattern) instead of the windowed form."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query(
    "c27_window_analytic",
    oracle="""
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(event_id) OVER w AS first_event,
           nth_value(event_id, 2) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
)
def c27(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("event_id").over(w).alias("first_event"),
        F.nth_value("event_id", 2).over(wfull).alias("second_event"),
    )


@query(
    "c28_window_frames",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
               (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
           round(avg(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
               (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 4) AS moving_avg3,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS n_similar_price
    FROM orders
    """,
)
def c28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames over money: prices go through exact integer cents
    first — windowed double sums re-associate differently per engine
    (segment trees), so cent-exact arithmetic is the portable form."""
    w_rows = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    w_range = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-100, 100)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.sum(cents)
        .over(w_rows.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_cents"),
        F.round(F.avg(cents).over(w_rows.rowsBetween(-2, 0)) / 100.0, 4).alias(
            "moving_avg3"
        ),
        F.count(F.lit(1)).over(w_range).alias("n_similar_price"),
    )


@query(
    "c29_qualify_rewrite",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
)
def c29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY has no Spark keyword — the mechanical rewrite is
    window-column + filter (SURVEY C29)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        T(spark, sf_dir, "orders")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# --- Sort / limit / top-k / sampling -----------------------------------------


@query(
    "c30_sort_nulls_last",
    oracle="""
    SELECT event_id,
           CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
    FROM events
    ORDER BY v ASC NULLS LAST, event_id
    LIMIT 50
    """,
)
def c30(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = T(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    return df.orderBy(F.asc_nulls_last("v"), F.asc("event_id")).limit(50)


@query(
    "c31_limit_offset",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 20 OFFSET 10",
)
def c31(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(10)
        .limit(20)
    )


@query(
    "c32_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
)
def c32(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


@query(
    "c33_deterministic_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
)
def c33(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling: deterministic, engine-portable ~1/16
    sample (md5 agrees everywhere; Bernoulli .sample() RNG does not,
    so that variant is pytest-only)."""
    df = T(spark, sf_dir, "orders")
    return df.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 1) == "0"
    ).select("o_orderkey", "o_totalprice")


# --- Set operations ------------------------------------------------------------


@query(
    "c34_union_distinct",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    UNION
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'FURNITURE'
    """,
)
def c34(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(F.col("c_nationkey").alias("nk"))
    b = cust.filter(F.col("c_mktsegment") == "FURNITURE").select(F.col("c_nationkey").alias("nk"))
    return a.union(b).distinct()


@query(
    "c35_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
    INTERSECT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'FURNITURE'
    """,
)
def c35(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(F.col("c_nationkey").alias("nk"))
    b = cust.filter(F.col("c_mktsegment") == "FURNITURE").select(F.col("c_nationkey").alias("nk"))
    return a.intersect(b)


@query(
    "c36_except",
    oracle="""
    SELECT s_nationkey AS nk FROM supplier
    EXCEPT
    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def c36(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    cust = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .select(F.col("c_nationkey").alias("nk"))
    )
    return supp.exceptAll(cust).distinct()


# --- Query structure ------------------------------------------------------------


@query(
    "c37_cte",
    oracle="""
    WITH nation_bal AS (
      SELECT c_nationkey, round(avg(c_acctbal), 2) AS nation_avg, count(*) AS n_cust
      FROM customer GROUP BY c_nationkey
    ), global_avg AS (
      SELECT avg(c_acctbal) AS g FROM customer
    )
    SELECT c_nationkey, nation_avg, n_cust
    FROM nation_bal, global_avg WHERE nation_avg > g
    """,
)
def c37(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTEs via the SQL passthrough (also exercises B11)."""
    T(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH nation_bal AS (
          SELECT c_nationkey, round(avg(c_acctbal), 2) AS nation_avg, count(*) AS n_cust
          FROM customer GROUP BY c_nationkey
        ), global_avg AS (
          SELECT avg(c_acctbal) AS g FROM customer
        )
        SELECT c_nationkey, nation_avg, n_cust
        FROM nation_bal, global_avg WHERE nation_avg > g
        """
    )


@query(
    "c38_correlated_subquery",
    oracle="""
    SELECT c_custkey, c_nationkey FROM customer c1
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c1.c_nationkey)
    """,
)
def c38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (SURVEY C38)."""
    T(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey FROM customer c1
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        """
    )


@query(
    "c39_values_inline",
    oracle="""
    SELECT w.tier AS tier, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    JOIN (VALUES ('1-URGENT', 'hot'), ('2-HIGH', 'hot'), ('3-MEDIUM', 'warm'),
                 ('4-NOT SPECIFIED', 'cold'), ('5-LOW', 'cold')) w(prio, tier)
      ON o_orderpriority = w.prio
    GROUP BY w.tier ORDER BY tier
    """,
)
def c39(spark: SparkSession, sf_dir: str) -> DataFrame:
    lookup = local_df(
        spark,
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "prio string, tier string",
    )
    orders = T(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(lookup), orders.o_orderpriority == lookup.prio)
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --- C49: single-pass column profiler -----------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate")


@query(
    "c49_column_profile",
    oracle="""
    SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
           count(*) - count(l_quantity) AS n_nulls,
           count(DISTINCT l_quantity) AS n_distinct,
           CAST(min(l_quantity) AS VARCHAR) AS min_val,
           CAST(max(l_quantity) AS VARCHAR) AS max_val FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice),
           CAST(min(l_extendedprice) AS VARCHAR),
           CAST(max(l_extendedprice) AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag),
           CAST(min(l_returnflag) AS VARCHAR),
           CAST(max(l_returnflag) AS VARCHAR) FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', count(*), count(*) - count(l_shipdate),
           count(DISTINCT l_shipdate),
           CAST(min(l_shipdate) AS VARCHAR),
           CAST(max(l_shipdate) AS VARCHAR) FROM lineitem
    ORDER BY col_name
    """,
)
def c49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (the engine's `summarize`): count / nulls /
    exact distinct / min / max for every profiled column in ONE pass
    over the table — a single wide aggregate (Catalyst expands the
    multi-column distinct; the scan still happens once), then an
    in-memory pivot of the 1-row result to long form. The oracle scans
    4× because SQL can't share the pass without the same expand trick;
    the engine side is the point."""
    li = T(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
        )
    )


# --- C50: LATERAL correlated subquery -----------------------------------------


@query(
    "c50_lateral_topk",
    oracle="""
    SELECT n_name, c_name, c_acctbal
    FROM nation, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 3
    )
    ORDER BY n_name, c_acctbal DESC, c_name
    """,
)
def c50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — top-3 customers per nation via
    the SQL LATERAL surface. Catalyst decorrelates the LIMIT subquery
    into a window rank over one hash-partitioned shuffle (same plan as
    c32's DataFrame form) rather than a per-row re-execution."""
    from etl_cortex_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, c_name, c_acctbal
        FROM nation, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        )
        """
    )


# --- C51: approximate quantiles (epsilon oracle, c19 pattern) -----------------


@query(
    "c51_approx_quantiles",
    oracle="SELECT true AS q25_within_1pct, true AS q50_within_1pct, "
    "true AS q75_within_1pct",
)
def c51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna / KLL-style mergeable
    sketch). Raw sketch output is engine-specific, so — like c19 — the
    oracle-checkable contract is the ERROR BOUND: each approximate
    quartile of l_extendedprice must land within 1% of the exact
    in-plan percentile; the oracle pins all three flags true."""
    est = T(spark, sf_dir, "lineitem").agg(
        F.percentile_approx(
            "l_extendedprice", [0.25, 0.5, 0.75], 10_000
        ).alias("approx"),
        F.expr(
            "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))"
        ).alias("exact"),
    )
    within = lambda i: (  # noqa: E731
        F.abs(F.col("approx")[i] - F.col("exact")[i]) / F.col("exact")[i] <= 0.01
    )
    return est.select(
        within(0).alias("q25_within_1pct"),
        within(1).alias("q50_within_1pct"),
        within(2).alias("q75_within_1pct"),
    )


@query(
    "c52_quality_checks",
    oracle="""
    WITH t AS (
      SELECT count(*) AS n,
             sum(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END) AS v_nonnull_key,
             sum(CASE WHEN l_quantity <= 45 THEN 0 ELSE 1 END) AS v_qty_le_45,
             sum(CASE WHEN l_discount < 0.08 THEN 0 ELSE 1 END) AS v_disc_lt_008,
             sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS v_flag_domain
      FROM lineitem
    )
    SELECT rule, n AS n_rows, CAST(v AS BIGINT) AS n_violations,
           round(CAST(v AS DOUBLE) / n, 6) AS violation_frac
    FROM t, (VALUES ('disc_lt_008', 1), ('flag_domain', 2), ('nonnull_key', 3), ('qty_le_45', 4)) r(rule, i),
         LATERAL (SELECT CASE r.rule
                    WHEN 'nonnull_key' THEN v_nonnull_key
                    WHEN 'qty_le_45' THEN v_qty_le_45
                    WHEN 'disc_lt_008' THEN v_disc_lt_008
                    ELSE v_flag_domain END AS v) x
    ORDER BY rule
    """,
)
def c52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.check_rules — Deequ-style declarative constraints
    evaluated in ONE aggregate pass (all counters share the scan and
    the map-side partial combine; k rules != k jobs). NULL rule
    results count as violations on both engines (3VL CASE parity).
    Mix of passing and failing rules proves both paths."""
    from etl_cortex_spark.operators.quality import check_rules

    li = T(spark, sf_dir, "lineitem")
    return check_rules(
        li,
        {
            "nonnull_key": F.col("l_orderkey").isNotNull(),
            "qty_le_45": F.col("l_quantity") <= 45,
            "disc_lt_008": F.col("l_discount") < 0.08,
            "flag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


@query(
    "c53_rolling_time_window",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag,
             CAST(l_shipdate AS DATE) AS day,
             round(sum(round(l_extendedprice * (1 - l_discount), 4)), 4) AS daily_rev
      FROM lineitem GROUP BY 1, 2
    ),
    n AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS dayn FROM daily)
    SELECT l_returnflag, CAST(day AS TIMESTAMP) AS day, daily_rev,
           round(sum(daily_rev) OVER (
             PARTITION BY l_returnflag ORDER BY dayn
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS trailing7
    FROM n ORDER BY l_returnflag, day
    """,
)
def c53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: 7-day trailing revenue per
    returnflag. RANGE over the day ordinal (not ROWS) so gaps in the
    calendar shrink the frame — the semantics ROWS cannot express.
    Rounding discipline: the revenue term is rounded at its exact
    decimal width (4) before summing, and the sums re-rounded at 4,
    so cross-engine summation-order drift cannot surface. One keyed
    shuffle for the daily agg; the window reuses the returnflag
    partitioning."""
    li = T(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(
            "l_returnflag", F.to_date("l_shipdate").alias("day")
        )
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4
            ).alias("daily_rev")
        )
        .withColumn("dayn", F.datediff("day", F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("dayn")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "l_returnflag",
        F.col("day").cast("timestamp").alias("day"),
        "daily_rev",
        F.round(F.sum("daily_rev").over(w), 4).alias("trailing7"),
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_oracle() -> str:
    pairs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            pairs.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"round(corr({a}, {b}), 6) AS corr FROM lineitem"
            )
    return " UNION ALL ".join(pairs) + " ORDER BY col_a, col_b"


@query("c54_corr_matrix", oracle=_corr_oracle())
def c54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass correlation matrix: every pairwise Pearson corr rides
    a single wide aggregate (one scan, one exchange — same pattern as
    c49/c52), then pivots long. The oracle runs k(k-1)/2 separate
    scans because portable SQL can't share them — the engine side is
    the point. round(,6) absorbs summation-order ULPs."""
    li = T(spark, sf_dir, "lineitem")
    aggs = []
    names = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            names.append((a, b))
            aggs.append(F.round(F.corr(a, b), 6).alias(f"__c_{a}__{b}"))
    one = li.agg(*aggs)
    stack = ", ".join(f"'{a}', '{b}', __c_{a}__{b}" for a, b in names)
    return (
        one.selectExpr(f"stack({len(names)}, {stack}) AS (col_a, col_b, corr)")
    )


@query(
    "c55_grouped_trend",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag,
             date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS x,
             round(sum(round(l_extendedprice * (1 - l_discount), 4)), 4) AS y
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           count(*) AS n_days,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS slope
    FROM daily GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def c55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (closed form): daily revenue regressed on
    the day ordinal, slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) — grouped
    linear regression without MLlib, as two chained aggregates that
    share the returnflag partitioning. Integer x and 4-decimal y keep
    the moment sums engine-stable; round(,6) on the final ratio."""
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01")).alias("x"),
    ).agg(
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)), 4
        ).alias("y")
    )
    n, sx, sy = F.count(F.lit(1)), F.sum("x"), F.sum("y")
    sxy, sxx = F.sum(F.col("x") * F.col("y")), F.sum(F.col("x") * F.col("x"))
    return (
        daily.groupBy("l_returnflag")
        .agg(
            n.alias("n_days"),
            F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("slope"),
        )
    )


@query(
    "c56_set_ops_all",
    oracle="""
    WITH l AS (SELECT o_orderstatus AS s FROM orders WHERE o_orderkey % 3 = 0),
    r AS (SELECT o_orderstatus AS s FROM orders WHERE o_orderkey % 5 = 0),
    i AS (SELECT s FROM l INTERSECT ALL SELECT s FROM r),
    e AS (SELECT s FROM l EXCEPT ALL SELECT s FROM r)
    SELECT 'intersect_all' AS op, s, count(*) AS n FROM i GROUP BY s
    UNION ALL
    SELECT 'except_all', s, count(*) FROM e GROUP BY s
    ORDER BY op, s
    """,
)
def c56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations: INTERSECT ALL keeps min
    multiplicity per value, EXCEPT ALL subtracts multiplicities —
    distinct Catalyst operators from the c35/c36 set forms (they
    compile to aggregate+generate over counts, not joins). The output
    groups multiplicities so the oracle compare is compact."""
    orders = T(spark, sf_dir, "orders")
    l = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderstatus").alias("s")
    )
    r = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderstatus").alias("s")
    )
    i = l.intersectAll(r).groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    e = l.exceptAll(r).groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    return (
        i.select(F.lit("intersect_all").alias("op"), "s", "n")
        .unionByName(e.select(F.lit("except_all").alias("op"), "s", "n"))
    )


@query(
    "c58_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity - 1 = 0 THEN NULL
                ELSE l_extendedprice / (l_quantity - 1) END AS price_per_extra,
           round(l_extendedprice + l_tax, 4) AS with_tax,
           TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def c58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic: try_divide yields NULL on zero
    denominators (quantity=1 rows here) instead of failing the job,
    try_add passes through, TRY_CAST of a non-numeric returns NULL —
    the ANSI-mode escape hatches a pipeline needs to survive dirty
    data. The oracle expresses the same semantics with CASE, which is
    exactly what try_divide desugars to for legal-but-zero input.
    The quotient is emitted UNROUNDED: IEEE division of identical
    doubles is bit-identical on both engines, while round() is the
    one op whose tie rule diverges (decimal-string vs binary)."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 1).alias(
            "price_per_extra"
        ),
        F.round(F.try_add(F.col("l_extendedprice"), F.col("l_tax")), 4).alias(
            "with_tax"
        ),
        F.col("l_returnflag").try_cast("double").alias("flag_as_num"),
    )


@query(
    "c59_referential_integrity",
    oracle="""
    WITH rel AS (
      SELECT 'lineitem->orders' AS relation,
             (SELECT count(*) FROM lineitem) AS n_child,
             (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS n_null_key,
             (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
      UNION ALL
      SELECT 'lineitem->supplier_even',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL),
             (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL
                AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 2 = 0))
      UNION ALL
      SELECT 'orders->customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
             (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
                AND o_custkey NOT IN (SELECT c_custkey FROM customer))
    )
    SELECT relation, n_child, CAST(n_null_key AS BIGINT) AS n_null_key,
           CAST(n_orphans AS BIGINT) AS n_orphans
    FROM rel ORDER BY relation
    """,
)
def c59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality.referential_integrity — cross-table FK audit (the
    multi-table complement of c52): one payload-free anti join per
    relation, NULL keys reported separately from true orphans. The
    supplier side is filtered to even keys so the orphan path has
    real prey alongside the two clean relations."""
    from etl_cortex_spark.operators.quality import referential_integrity

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s_even = T(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 2 == 0)
    return referential_integrity(
        spark,
        [
            ("lineitem->orders", li, "l_orderkey", "orders", o, "o_orderkey"),
            ("lineitem->supplier_even", li, "l_suppkey", "supplier", s_even, "s_suppkey"),
            ("orders->customer", o, "o_custkey", "customer", c, "c_custkey"),
        ],
    )


@query(
    "c60_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    ORDER BY gid, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST
    """,
)
def c60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from c21's ROLLUP/CUBE:
    an arbitrary set list, here deliberately omitting the grand
    total) + grouping_id to disambiguate NULL-as-group from
    NULL-as-value. One expand + one partial-agg shuffle."""
    o = T(spark, sf_dir, "orders")
    o.createOrReplaceTempView("c60_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM c60_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@query(
    "c61_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS median_qty_disc,
           quantile_disc(l_extendedprice, 0.25) AS p25_price_disc,
           quantile_disc(l_extendedprice, 0.75) AS p75_price_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def c61(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc / quantile_disc): the
    returned value is an ACTUAL data point, not an interpolation — the
    semantics a median-of-prices report usually wants, and a different
    code path from c23's continuous percentile. Data points pass
    through untouched, so no rounding is needed at all.

    Round 19: the three native percentile_disc aggregates (each its
    own per-partition value map over a 97%-distinct price column — the
    b29 pathology) are replaced by histogram-refinement selection
    (`operators/quantiles.exact_percentile_disc`, same rank definition
    smallest v with cum/n >= p, bit-equal data points pinned in
    tests/test_quantiles.py), one call per value column joined on the
    3-row group frame."""
    li = T(spark, sf_dir, "lineitem")
    qty = exact_percentile_disc(
        li.select("l_returnflag", "l_quantity"),
        "l_quantity",
        [0.5],
        group_cols=["l_returnflag"],
        out_names=["median_qty_disc"],
    )
    price = exact_percentile_disc(
        li.select("l_returnflag", "l_extendedprice"),
        "l_extendedprice",
        [0.25, 0.75],
        group_cols=["l_returnflag"],
        out_names=["p25_price_disc", "p75_price_disc"],
    )
    return (
        qty.join(price, "l_returnflag")
        .select(
            "l_returnflag", "median_qty_disc", "p25_price_disc", "p75_price_disc"
        )
    )


@query(
    "c62_observe_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_qty,
           round(sum(l_extendedprice), 2) AS total_price,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
    """,
)
def c62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed in-flight metrics (``Dataset.observe``): quality
    counters collected as a side effect of a job the pipeline was
    running ANYWAY — here the job is a filtered noop write, and the
    observation point sits on the unfiltered scan, so the metrics
    cover every row while the main action only keeps a slice. The
    query returns the observation as a one-row frame; the oracle
    recomputes the same aggregates directly, proving the piggybacked
    counters equal a dedicated scan's.
    """
    from etl_cortex_spark.operators.quality import observe_metrics

    li = T(spark, sf_dir, "lineitem")
    observed, obs = observe_metrics(
        li,
        "c62",
        {
            "n_rows": F.count(F.lit(1)),
            "null_qty": F.sum(F.col("l_quantity").isNull().cast("long")),
            "total_price": F.round(F.sum("l_extendedprice"), 2),
            # DISTINCT aggregates are rejected in observed metrics
            # (INVALID_OBSERVED_METRICS); stick to accumulator-shaped aggs
            "max_orderkey": F.max("l_orderkey"),
        },
    )
    # the pipeline's own (filtered) action — metrics ride along. The
    # action projects one column (round 19): the observe node keeps
    # its own inputs alive, so the scan reads exactly the 3 metric
    # columns + the filter column instead of all 16 (ReadSchema
    # pruning through the noop write; metrics see every pre-filter
    # row either way).
    observed.filter(F.col("l_quantity") >= 25).select("l_quantity").write.format(
        "noop"
    ).mode("overwrite").save()
    got = obs.get
    return local_df(
        spark,
        [(got["n_rows"], got["null_qty"], got["total_price"], got["max_orderkey"])],
        "n_rows bigint, null_qty bigint, total_price double, max_orderkey bigint",
    )


@query(
    "c63_window_cume_dist",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(cume_dist() OVER w, 6) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
    """,
)
def c63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist — the one ranking-family window function c26 didn't
    cover (fraction of partition rows ≤ current ORDER BY value; peers
    share a value, so no unique tiebreaker is needed for the result to
    be deterministic). Scale note: cume_dist (like ntile) cannot be
    WindowGroupLimit-pruned — this entry is the SQL-surface parity
    demo (allowlisted in the ntile-family plan audit); a data-sized
    pipeline computes the same quantity from `skew.global_rank` /
    `grouped_ntile`-style two-phase censuses instead."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "c64_ordered_listagg",
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
             AS statuses,
           median(l_quantity) AS med_qty,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def c64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation + exact interpolated percentiles:
    LISTAGG(DISTINCT ... ORDER BY ...) — deterministic by
    construction (sorted, deduplicated) where a bare collect would be
    partition-ordered — expressed as array_sort(collect_set) so the
    agg stays a single-exchange partial combine; plus exact median and
    quartiles (continuous interpolation, the c61 disc entry's
    complement). Prices round at 4dp to absorb the one multiply where
    engine interpolation formulas may differ in the last ulp."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
                "statuses"
            ),
            F.median("l_quantity").alias("med_qty"),
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias(
                "p25_price"
            ),
            F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias(
                "p75_price"
            ),
        )
    )


_C65_SQL_BODY = """
    WITH RECURSIVE walk(node, depth, root_child) AS (
      SELECT CAST(1 AS BIGINT) AS node, 0 AS depth, CAST(1 AS BIGINT) AS root_child
      UNION ALL
      SELECT d.doc_id, w.depth + 1,
             CASE WHEN w.node = 1 THEN d.doc_id ELSE w.root_child END
      FROM {docs} d JOIN walk w ON CAST(FLOOR(d.doc_id / 2) AS BIGINT) = w.node
      WHERE d.doc_id BETWEEN 2 AND 63
    )
    SELECT node, depth, root_child
    FROM walk
"""


@query(
    "c65_recursive_cte",
    oracle=_C65_SQL_BODY.format(docs="documents"),
)
def c65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4's recursive CTE): walk the implicit
    binary tree parent(n)=n div 2 over doc_ids 1..63 from the root,
    emitting each node's depth and which child-of-root subtree it
    belongs to — the org-hierarchy/BOM-explosion query shape that
    plain joins can't express without pre-knowing the depth. The SAME
    SQL text runs on both engines (the point of the entry: surface
    parity, not dialect translation). Iteration count is the tree
    DEPTH (6 here), not the node count — each step is one join+filter
    over the frontier, the same frontier-expansion shape as
    ``graph.connected_components``. The parent expression is an
    explicit FLOOR: CAST(int/2 AS BIGINT) truncates in Spark but
    rounds half-to-even in DuckDB — the kind of silent dialect split
    this oracle suite exists to catch."""
    docs = T(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("c65_documents")
    return spark.sql(_C65_SQL_BODY.format(docs="c65_documents"))


#: IGNORE NULLS placement is the ONE dialect split in this entry:
#: Spark parses it after the call parens, DuckDB inside them —
#: semantics verified identical on a shared fixture. {ln} / {ld} are
#: the per-engine function spellings.
_C66_SQL_BODY = """
    SELECT event_id, user_id,
           {ln} OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
           {ld} OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS next_obs
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      FROM {events}
    )
"""


@query(
    "c66_window_ignore_nulls",
    oracle="""
    SELECT event_id, user_id, locf_value, next_obs FROM (
    """
    + _C66_SQL_BODY.format(
        ln="last_value(v IGNORE NULLS)",
        ld="lead(v IGNORE NULLS)",
        events="(SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)",
    )
    + ") ORDER BY event_id",
)
def c66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window frames — the gap-bridging semantics
    (last-observation-carried-forward and next-observation lookahead
    over a sparsely observed column) that a bare last_value/lead can't
    give: every third event's value is NULLed and the window must skip
    over the holes. Same semantics on both engines (placement of
    IGNORE NULLS is the one dialect split, documented above); the
    unique (ts, event_id) order key makes the result total-order
    deterministic. One user-keyed exchange serves both windows."""
    ev = T(spark, sf_dir, "events")
    ev.createOrReplaceTempView("c66_events")
    return spark.sql(
        "SELECT event_id, user_id, locf_value, next_obs FROM ("
        + _C66_SQL_BODY.format(
            ln="last_value(v) IGNORE NULLS",
            ld="lead(v) IGNORE NULLS",
            events="c66_events",
        )
        + ")"
    )


_C67_SQL = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS total_qty
    FROM {li} GROUP BY ALL ORDER BY ALL
"""


@query("c67_group_by_all", oracle=_C67_SQL.format(li="lineitem"))
def c67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics surface
    DuckDB introduced and Spark 4 adopted: grouping keys inferred from
    the non-aggregate select items, ordering over every output column.
    The SAME SQL text runs on both engines; the resolved plan is the
    ordinary partial-combine hash aggregate (ALL is sugar, not a new
    operator — proven by the oracle match)."""
    li = T(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("c67_lineitem")
    return spark.sql(_C67_SQL.format(li="c67_lineitem"))


@query(
    "c68_null_safe_join",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS k
      FROM orders WHERE o_orderkey <= 2000
    ), r AS (
      SELECT CASE WHEN s % 2 = 0 THEN NULL ELSE CAST(s AS VARCHAR) END AS k,
             s AS tag
      FROM (SELECT unnest([0, 1, 2]) AS s)
      UNION ALL
      SELECT o_orderstatus, -1 FROM (SELECT DISTINCT o_orderstatus FROM orders)
    )
    SELECT coalesce(l.k, '<NULL>') AS key_shown,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN l.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_key_pairs
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY coalesce(l.k, '<NULL>')
    ORDER BY key_shown
    """,
)
def c68(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics CDC merges
    and dimension lookups with optional keys need, and a different
    join-key code path from c11-c13 (NULL becomes a real hash key).
    Scale note in-plan: all NULL keys co-locate in ONE hash
    partition, so a NULL-heavy column is a built-in skew hazard —
    production splits the NULL slice off first (the salting pattern
    from operators/skew.py applies)."""
    orders = T(spark, sf_dir, "orders")
    left = orders.filter(F.col("o_orderkey") <= 2000).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    nums = local_df(spark, [(0,), (1,), (2,)], "s int").select(
        F.when(F.col("s") % 2 == 0, None).otherwise(F.col("s").cast("string")).alias("k"),
        F.col("s").cast("bigint").alias("tag"),
    )
    statuses = orders.select(F.col("o_orderstatus").alias("k")).distinct().select(
        "k", F.lit(-1).cast("bigint").alias("tag")
    )
    right = nums.unionByName(statuses)
    joined = left.join(right, left.k.eqNullSafe(right.k))
    return (
        joined.groupBy(F.coalesce(left.k, F.lit("<NULL>")).alias("key_shown"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(left.k.isNull().cast("bigint")).alias("null_key_pairs"),
        )
    )


@query(
    "c69_variant_semistructured",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
           CAST(json_extract(props, '$.k') AS VARCHAR) AS k_str,
           CAST(NULL AS BIGINT) AS missing,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                OVER () AS BIGINT) AS k_total
    FROM events WHERE event_id % 50 = 0
    ORDER BY event_id
    """,
)
def c69(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT (Spark 4's open-format semi-structured type, the
    Snowflake/Delta VARIANT shape): `parse_json` once into a binary
    variant, then typed `variant_get` extractions — the schema-on-read
    path that beats per-access string re-parsing when one ingest
    feeds many extractions; `try_variant_get` on a missing path is
    NULL, not an error. The oracle replays with DuckDB's JSON
    extraction; matching typed values proves the variant round-trip.
    Column pruning/pushdown still applies to the source scan — the
    variant column prunes like any other."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    out = ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k_long"),
        F.expr("variant_get(parse_json(props), '$.k', 'string')").alias("k_str"),
        F.expr("try_variant_get(parse_json(props), '$.missing', 'long')").alias(
            "missing"
        ),
    )
    # Grand total as a 1-row aggregate broadcast back onto every row —
    # NOT sum().over(Window.partitionBy()), which would move the whole
    # filtered scan into a single partition (the search.py:73 pattern).
    total = out.agg(F.sum("k_long").alias("k_total"))
    return out.crossJoin(F.broadcast(total))


_C70_SQL = """
    SELECT l_orderkey,
           l_extendedprice * (1 - l_discount) AS disc_price,
           disc_price * (1 + l_tax) AS charge,
           charge - disc_price AS tax_paid
    FROM {li} WHERE l_orderkey <= 200
"""


@query("c70_lateral_column_alias", oracle=_C70_SQL.format(li="lineitem"))
def c70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases — referencing an alias defined earlier in
    the SAME select list (disc_price → charge → tax_paid), the
    expression-pipeline ergonomics DuckDB pioneered and Spark 3.4+
    adopted. Same SQL text both engines; Catalyst inlines the chain
    into one projection (no extra operator), and the unrounded doubles
    are IEEE-identical so no rounding is needed anywhere."""
    li = T(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("c70_lineitem")
    return spark.sql(_C70_SQL.format(li="c70_lineitem"))


_C71_PIPE_SQL = """
    FROM c71_lineitem
    |> WHERE l_quantity >= 10
    |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
    |> AGGREGATE round(sum(l_quantity), 2) AS sum_qty,
                 round(sum(disc_price), 2) AS revenue,
                 count(*) AS n_items
       GROUP BY l_returnflag, l_linestatus
    |> WHERE n_items > 50
    |> ORDER BY l_returnflag, l_linestatus
"""


@query(
    "c71_pipe_sql",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_quantity >= 10
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) > 50
    ORDER BY l_returnflag, l_linestatus
    """,
)
def c71(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0's `|>` operators, the
    GoogleSQL-pipeline form): scan |> WHERE |> EXTEND (lateral
    computed column) |> AGGREGATE ... GROUP BY |> WHERE-on-aggregate
    (pipe HAVING) |> ORDER BY. Sugar only — Catalyst plans the
    identical filter→project→partial-agg→sort as the classic form the
    oracle runs, which is the point being pinned."""
    li = T(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("c71_lineitem")
    return spark.sql(_C71_PIPE_SQL)


_C72_SCRIPT = """
    BEGIN
      DECLARE i INT DEFAULT 1;
      DECLARE total BIGINT DEFAULT 0;
      WHILE i <= 3 DO
        SET total = total + (
          SELECT count(*) FROM c72_orders
          WHERE o_orderkey % 3 = i - 1 AND o_totalprice > i * 50000
        );
        SET i = i + 1;
      END WHILE;
      SELECT total AS scripted_total;
    END
"""


@query(
    "c72_sql_scripting",
    oracle="""
    SELECT CAST(
        (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0 AND o_totalprice > 50000)
      + (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1 AND o_totalprice > 100000)
      + (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2 AND o_totalprice > 150000)
      AS BIGINT) AS scripted_total
    """,
)
def c72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 `BEGIN..END` compound statements,
    SQL/PSM): DECLARE'd session variables, a WHILE loop whose
    condition and SET re-evaluate per iteration, scalar subqueries
    against real tables inside the loop body, final SELECT as the
    script result. The loop is driver-side control flow — each
    iteration's subquery is still a full distributed plan — so the
    oracle is the closed-form unrolled sum. Scripting ships disabled;
    the builder flips `spark.sql.scripting.enabled` for its session
    (runtime-settable, no restart)."""
    orders = T(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("c72_orders")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(_C72_SCRIPT)


@query(
    "c73_execute_immediate",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_totalprice > 150000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def c73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables + EXECUTE IMMEDIATE (Spark 4 dynamic SQL):
    DECLARE/SET VAR hold the cutoff date and price floor, and the
    query text is executed dynamically with `USING` parameter binding
    — the stored-procedure-style surface (and the safe alternative to
    string-splicing user input into SQL). The oracle is the same
    query with the parameters inlined: binding must not change the
    plan or the result."""
    orders = T(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("c73_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE c73_cutoff TIMESTAMP "
        "DEFAULT TIMESTAMP '1990-01-01 00:00:00'"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE c73_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR c73_cutoff = TIMESTAMP '1996-01-01 00:00:00'")
    spark.sql("SET VAR c73_floor = 150000.0")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, count(*) AS n,
                  round(sum(o_totalprice), 2) AS total
           FROM c73_orders
           WHERE o_orderdate >= ? AND o_totalprice > ?
           GROUP BY o_orderpriority'
        USING c73_cutoff, c73_floor
        """
    )


@query(
    "c74_parameterized_sql",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def c74(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized spark.sql (named-marker binding, Spark 3.4+/4):
    `:lo`/`:hi`/`:qty` markers bound through the `args` dict — the
    API-level injection-safe query surface (the Python twin of c73's
    SQL-level EXECUTE IMMEDIATE ... USING). Markers bind as literals
    in the analyzed plan, so pushdown still reaches the scan; the
    oracle inlines the same constants."""
    li = T(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("c74_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS qty
        FROM c74_lineitem
        WHERE l_discount BETWEEN :lo AND :hi AND l_quantity < :qty
        GROUP BY l_returnflag
        """,
        args={"lo": 0.05, "hi": 0.07, "qty": 24},
    )


@query(
    "c75_collated_comparison",
    oracle="""
    SELECT lower(o_orderpriority) AS prio_ci,
           count(*) AS n,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
    FROM orders
    GROUP BY lower(o_orderpriority)
    ORDER BY prio_ci
    """,
)
def c75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4's COLLATE UTF8_LCASE): grouping on a
    case-insensitive collated expression — comparison/grouping
    semantics move into the TYPE instead of wrapping every reference
    in lower(). The oracle replays with explicit lower() (DuckDB has
    no session collations); emitting lower() of the group key
    normalizes the representative row so both engines agree on the
    output string, not just the grouping."""
    orders = T(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("c75_orders")
    return spark.sql(
        """
        SELECT lower(prio_ci) AS prio_ci, n, n_status FROM (
          SELECT o_orderpriority COLLATE UTF8_LCASE AS prio_ci,
                 count(*) AS n,
                 CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
          FROM c75_orders
          GROUP BY o_orderpriority COLLATE UTF8_LCASE
        )
        """
    )


@query(
    "c76_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 40 = 0
    ORDER BY o_orderkey
    """,
)
def c76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML (Spark 4's built-in XML support, formerly the
    spark-xml package): each order is serialized with `to_xml` and
    parsed back with `from_xml` under a typed schema — the d05-WAV
    proof shape for the XML ingest surface. The oracle never sees the
    XML: it selects the original columns, so a match proves the
    serialize→parse round-trip is lossless, including doubles (Java's
    shortest-round-trip decimal rendering parses back bit-exact)."""
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 40 == 0)
    xml = orders.select(
        F.expr(
            "to_xml(struct(o_orderkey, o_totalprice, o_orderpriority))"
        ).alias("xml")
    )
    parsed = xml.select(
        F.expr(
            "from_xml(xml, 'o_orderkey BIGINT, o_totalprice DOUBLE, "
            "o_orderpriority STRING')"
        ).alias("p")
    )
    return (
        parsed.select("p.o_orderkey", "p.o_totalprice", "p.o_orderpriority")
    )


@query(
    "c77_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity - 24.0, 0.0) AS ratio,
           CAST(NULL AS BIGINT) AS overflowed,
           list_extract(string_split(l_returnflag, ' '), 99) AS elem99
    FROM lineitem WHERE l_orderkey % 100 = 0 AND l_orderkey > 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def c77(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe arithmetic (`try_*` functions): division
    by zero, BIGINT overflow, and out-of-range element access all
    yield NULL instead of failing the job — the semantics a pipeline
    needs to survive dirty data under ANSI SQL (Spark 4's default).
    The oracle replays with DuckDB's native NULL-safe forms
    (NULLIF-guarded division; list_extract is out-of-range-NULL by
    design; the guaranteed overflow is a typed NULL literal)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 100 == 0) & (F.col("l_orderkey") > 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_divide(l_extendedprice, l_quantity - 24.0)").alias("ratio"),
        # every kept orderkey is positive, so MAX + key always overflows
        F.expr("try_add(9223372036854775807, l_orderkey)").alias("overflowed"),
        F.expr("try_element_at(split(l_returnflag, ' '), 99)").alias("elem99"),
    )


@query(
    "c78_window_exclude_current",
    oracle="""
    SELECT user_id, event_id,
           CAST(sum(event_id) OVER w AS BIGINT) AS peer_sum,
           CAST(count(*) OVER w AS BIGINT) AS peer_cnt
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                 EXCLUDE CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def c78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames with EXCLUDE CURRENT ROW — the peer-comparison
    frame (how do my neighbors look, not counting me) that DuckDB/
    Postgres support natively and Spark lacks. The Spark rewrite is
    the standard identity: aggregate over the FULL frame minus the
    current row's contribution — exact for sums/counts of integers
    (no fp re-association), and the oracle runs DuckDB's NATIVE
    EXCLUDE so the rewrite is proven equivalent, not self-checked.
    Per-user frames only (partitioned window, scale-safe)."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-2, 2)
    )
    return ev.select(
        "user_id",
        "event_id",
        (F.sum("event_id").over(w) - F.col("event_id")).alias("peer_sum"),
        (F.count(F.lit(1)).over(w) - 1).alias("peer_cnt"),
    )
