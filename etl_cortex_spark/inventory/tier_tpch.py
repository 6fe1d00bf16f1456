"""Classic TPC-H-shaped queries (beyond q1 in tier_c_rel) — the
multi-join analytical patterns a SQL engine is judged on: q2-q10,
q12-q15, q17-q19, q21, q22, adapted to the driver's schema subset
(orders lacks o_comment/o_shippriority; there is no partsupp table, so
q2/q9 derive the supply catalog from lineitem; phone country codes
don't exist, so q22 buckets on c_nationkey).

Scale shapes these exercise (each builder's docstring carries its
own): selective-filter top-k (q3/q10/q18), dimension-cut pushdown
before fact joins (q5), pure pushdown scan+agg (q6), scalar-subquery
decorrelation (q15/q17/q22), EXISTS/NOT-EXISTS as semi/anti joins
(q4/q21), correlated-min decorrelation (q2), the widest 5-join star
(q9), and LEFT-join zero-count distributions (q13).

All doubles are rounded post-aggregation only (SURVEY §7 drift rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cortex_spark.operators.layout import (
    bucketed_fact,
    conformed_dim,
    fact_buckets,
)
from etl_cortex_spark.queries import T, query


#: the one lineitem projection q3 and q5 SHARE (union of both queries'
#: columns — 5 of 16), so the two entries reuse a single layout write
#: instead of two full-row copies (round-8 verdict #3 / round-9 GC).
_LI_BKT_COLS = [
    "l_orderkey",
    "l_suppkey",
    "l_extendedprice",
    "l_discount",
    "l_shipdate",
]


#: customer in its warehouse layout (q3 needs c_mktsegment, q5 needs
#: c_nationkey, c10 needs c_mktsegment — one 3-column layout serves all)
_CUST_BKT_COLS = ["c_custkey", "c_mktsegment", "c_nationkey"]


def _customer_by_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer bucketed on c_custkey — the OTHER half of
    the secondary-projection pattern with `tier_c_rel._orders_by_
    custkey` (both sized by `layout.fact_buckets`, so the counts are
    EQUAL): with BOTH sides of the customer-key join laid out on the
    same key and bucket count, the cut customers⋈orders product
    (q3/q5's co build) runs with ZERO data-sized exchange — the
    round-9 sf10 decomposition measured that co build at 1.3 s of
    q3's 2.9 s when both sides shuffled. At 100 TB customer is a
    data-sized table (1/10 of orders), so this layout is the honest
    answer — not a broadcast, which inverts at scale."""
    return bucketed_fact(
        spark, sf_dir, "customer", "c_custkey", _CUST_BKT_COLS, fact_buckets(sf_dir)
    )


def _supplier_geo_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier ⋈ nation ⋈ region conformed into ONE stored dimension
    (s_suppkey, s_nationkey, n_name, r_name) — the star-schema
    flattening written at ingest (`bench.build_layouts`), so queries
    cutting suppliers by geography build ONE broadcast from one scan
    instead of re-paying the three-level broadcast subtree per run
    (the round-12 floor decomposition measured those builds at 3 of
    q5's 5 scheduled jobs). Identical rows to the in-plan join — the
    fallback on any write failure — so oracles are unaffected."""
    import os

    def build() -> DataFrame:
        sup = T(spark, sf_dir, "supplier")
        nat = T(spark, sf_dir, "nation")
        reg = T(spark, sf_dir, "region")
        return (
            sup.join(
                F.broadcast(nat),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .join(
                F.broadcast(reg),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .select("s_suppkey", "s_nationkey", "n_name", "r_name")
        )

    sig = f"{os.path.abspath(sf_dir)}|supplier_geo|v1"
    return conformed_dim(spark, "supplier_geo", build, sig)


def _lineitem_by_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem in its warehouse layout: bucketed on l_orderkey (the
    q3+q5 column union, DATA-SIZED bucket count via
    `layout.fact_buckets` — the bucketed side's HashPartitioning
    DICTATES join/agg parallelism, so buckets scale with bytes: 8 at
    sf0.1, 32 at sf10, thousands at 100 TB; measured both failure
    modes in round 9, 16 buckets idling half of local[32] at sf10 AND
    32 near-empty tasks costing 2.2x at sf0.1) — the ingest-time
    discipline that
    deletes the fact side's exchange from EVERY orderkey join below
    (q3, q5). One hash write when the data lands; after it the scan
    itself reports ``HashPartitioning(l_orderkey, n)`` so only the
    orders-shaped probe side shuffles. Identical rows to the plain
    scan (falls back to it if the warehouse isn't writable), so
    oracles are unaffected."""
    return bucketed_fact(
        spark, sf_dir, "lineitem", "l_orderkey", _LI_BKT_COLS, fact_buckets(sf_dir)
    )


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1997-03-15'
      AND l_shipdate > DATE '1997-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cortex_spark.inventory.tier_c_rel import _orders_by_custkey

    cust = _customer_by_custkey(spark, sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _orders_by_custkey(spark, sf_dir).filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("date")
    )
    li = _lineitem_by_orderkey(spark, sf_dir).filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("date")
    )
    # Build side matters: left to its static size guesses Catalyst
    # broadcast-builds the HALF-OF-LINEITEM filtered fact — a
    # serialized driver hash build that inverts at scale. The cut
    # customers⋈orders product is the smaller side, but it is still
    # orders-shaped (grows with the data), so it must not be
    # BROADCAST either: shuffle_hash builds it partition-wise —
    # per-task memory is |cut product|/shuffle-partitions at any
    # scale, and no sort is paid on either side. With the bucketed
    # lineitem layout the fact side doesn't even shuffle: the scan's
    # HashPartitioning(l_orderkey) feeds the join AND the downstream
    # (l_orderkey, o_orderdate) aggregate exchange-free — the only
    # exchange left in the query is the small co build.
    # The inner cut-customer ⋈ orders join runs over the SECONDARY
    # projection layouts (both sides bucketed on the customer key,
    # equal data-sized counts): ZERO exchange — the scans'
    # HashPartitioning satisfies
    # the join on both sides, and shuffle_hash builds the cut customer
    # partition-wise with no sort (round-9 sf10 decomposition: with
    # both sides shuffling, this co build alone was 1.3 of q3's
    # 2.9 s). The only data-sized movement left in q3 is co's re-key
    # to o_orderkey for the lineitem join — the |cut product| rows.
    co = cust.hint("shuffle_hash").join(
        orders, cust.c_custkey == orders.o_custkey
    ).select("o_orderkey", "o_orderdate")
    # EAGER AGGREGATION (round-9 sf10 decomposition): revenue per order
    # is independent of the co join (the join key is the grouping key,
    # and o_orderdate is functionally dependent on it), so the sum is
    # pushed BELOW the join — the bucketed scan feeds groupBy(
    # l_orderkey) exchange-free, the join then probes ~4x fewer rows
    # (one per order instead of one per line item), and no post-join
    # aggregate exists at all. Rounding happens after the join on the
    # identical per-order total (a ≤7-term sum of 4-decimal products —
    # exact in double, so the round is drift-free). At 100 TB this is
    # the difference between joining line items and joining orders.
    li_rev = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
    )
    return (
        li_rev.join(co.hint("shuffle_hash"), li_rev.l_orderkey == co.o_orderkey)
        .select(
            "l_orderkey",
            F.round("__rev", 2).alias("revenue"),
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The region cut (1/5 of nations) is pushed into BOTH fact-side
    inputs before any big join (round-4 plan fix): customer is
    semi-joined to the ASIA supplier list on nationkey and supplier is
    cut to ASIA, so the customer⋈orders⋈lineitem chain never carries
    non-ASIA rows that the old plan discarded at the end. Catalyst
    can't do this reordering itself without CBO stats — the builder
    owns it. At 100 TB this is the difference between joining 1/5 of
    the facts and joining all of them.

    Round 12: the supplier⋈nation⋈region chain reads the CONFORMED
    `_supplier_geo_dim` layout, and the customer semi probes the SAME
    cached conformed-dim scan the final join probes (semantically
    equal to the old ASIA-nation semi: a customer row can only survive
    the final c_nationkey==s_nationkey join if its nation has an ASIA
    supplier). The two probes hash on different key sets (semi on
    [s_nationkey], final on [s_suppkey, s_nationkey]) so their
    HashedRelationBroadcastModes differ and TWO broadcasts are built —
    but both from the one cached dim scan, collapsing the old
    region→nation→supplier subtree builds: jobs 5→3. The round-12
    floor decomposition measured those subtree builds at 3 of the
    query's 5 scheduled jobs (~28 ms scheduler floor each at sf0.1);
    the interleaved A/B recorded in BASELINE.md is the adopt
    evidence."""
    supp_frame = (
        _supplier_geo_dim(spark, sf_dir)
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    supp = F.broadcast(supp_frame)
    cust = (
        _customer_by_custkey(spark, sf_dir)
        .join(
            supp,
            F.col("c_nationkey") == F.col("s_nationkey"),
            "left_semi",
        )
        .select("c_custkey", "c_nationkey")
    )
    from etl_cortex_spark.inventory.tier_c_rel import _orders_by_custkey

    orders = _orders_by_custkey(spark, sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _lineitem_by_orderkey(spark, sf_dir)
    # Stream the fact: ASIA-customers ⋈ year-of-orders is the smaller
    # side, but it is orders-shaped (grows with the data) so it is
    # neither left to Catalyst (whose static guesses broadcast-build
    # the UNFILTERED lineitem here) nor broadcast by hint (a driver
    # build that dies at 100 TB). shuffle_hash builds it
    # partition-wise: per-task memory is |cut product|/partitions at
    # any scale, lineitem streams — and with the bucketed layout it
    # streams STRAIGHT FROM THE SCAN: HashPartitioning(l_orderkey, 16)
    # satisfies the join's distribution, so the fact never shuffles.
    # same partition-wise build pin as q3's inner join (round 9)
    co = cust.hint("shuffle_hash").join(
        orders, cust.c_custkey == orders.o_custkey
    ).select("o_orderkey", "c_nationkey")
    # (Round-9 A/B, rejected: pre-filtering the fact through a
    # broadcast ASIA-supplier semi join before the orderkey join
    # measured SLOWER at sf10 — 1.80 s vs 1.43 s — because a
    # broadcast-semi probe costs the same one hash lookup per row as
    # the shuffle-hash probe it was meant to relieve, so it only adds
    # probes. The join order below keeps total per-row work minimal:
    # one SHJ probe per line item, one broadcast probe per survivor.)
    return (
        li.join(co.hint("shuffle_hash"), li.l_orderkey == co.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (co.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= DATE '1996-10-01'
      AND o_orderdate < DATE '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(T(spark, sf_dir, "nation"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-07-01'
      AND o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q4 shape: correlated EXISTS → left-semi join + agg. The classic
    commitdate<receiptdate predicate is adapted to the testdata's
    column subset (shipped strictly after order date)."""
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = T(spark, sf_dir, "lineitem")
    shipped_late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        shipped_late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= DATE '1996-09-01'
      AND l_shipdate < DATE '1996-10-01'
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q14 shape: conditional aggregation ratio over a fact⋈dim join
    (part broadcasts)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("date"))
    )
    part = F.broadcast(T(spark, sf_dir, "part"))
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(0.0))
            / F.sum(net),
            4,
        ).alias("promo_pct")
    )


@query(
    "tpch_q18_large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    ) big ON big.l_orderkey = o_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q18 shape: HAVING-filtered aggregate subquery joined back to the
    fact chain + top-k."""
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty_raw"))
        .filter(F.col("total_qty_raw") > 250)
    )
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(big, big.l_orderkey == orders.o_orderkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty_raw", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND p_type = 'ECONOMY'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
      )
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q17 shape: correlated scalar-average subquery (quantity below
    0.2 × the part's own average). Deliberately written as SQL so
    Catalyst's decorrelation runs — the correlated aggregate becomes a
    per-part average joined back, exactly the rewrite the DataFrame
    version would hand-roll. p_container doesn't exist in the testdata
    schema; p_type stands in, semantics intact."""
    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    T(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1' AND p_type = 'ECONOMY'
          AND l_quantity < (
            SELECT 0.2 * avg(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = part.p_partkey
          )
        """
    )


@query(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q7 shape: bidirectional nation-pair CASE-free variant (the OR'd
    pair filter) over a 5-way join, yearly rollup. The two nation
    aliases and supplier broadcast; the fact chain shuffles on keys."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    supp = F.broadcast(T(spark, sf_dir, "supplier"))
    n1 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    )
    GROUP BY o_year ORDER BY o_year
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8 shape: national market share — CASE'd share-of-total ratio
    per year over a 7-way join (part/supplier/nation×2/region all
    broadcast; only the lineitem⋈orders⋈customer chain shuffles)."""
    part = F.broadcast(
        T(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    )
    li = T(spark, sf_dir, "lineitem")
    supp = F.broadcast(T(spark, sf_dir, "supplier"))
    orders = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    cust = T(spark, sf_dir, "customer")
    n1 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    ))
    region = F.broadcast(
        T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    n2 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    ))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(supp, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(region, F.col("n1_region") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q12_priority_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('R', 'A')
      AND l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12 shape: conditional CASE counts by a lineitem category over
    orders⋈lineitem. The testdata has no l_shipmode; l_returnflag is
    the stand-in category, o_orderpriority keeps the high/low CASE."""
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    orders = T(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN (
        SELECT * FROM orders WHERE o_orderpriority <> '4-NOT SPECIFIED'
      ) o ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q13 shape: orders-per-customer distribution — LEFT join keeping
    order-less customers (c_count 0), double aggregation. The classic
    o_comment NOT LIKE filter becomes a priority filter (no o_comment
    in the testdata)."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_rev, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q15 shape: revenue 'view' + scalar-max subquery selecting the
    top supplier. The max is a 1-row broadcast joined on equality —
    the revenue frame is computed once and reused for both sides of
    the comparison (Spark reuses the shuffle output across the two
    plan branches)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_rev"
        )
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = T(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name", F.round("total_rev", 2).alias("total_revenue")
        )
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q19 shape: OR-of-ANDs mixing join-side predicates — part
    broadcasts, and Catalyst extracts the common p_brand IN (...) /
    l_quantity range conjuncts below the join. p_container/l_shipmode
    don't exist in the testdata; p_size ranges stand in."""
    li = T(spark, sf_dir, "lineitem")
    part = F.broadcast(T(spark, sf_dir, "part"))
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(arm("Brand#1", 15, 1, 11) | arm("Brand#2", 25, 10, 20) | arm("Brand#3", 35, 20, 30))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q21_suppliers_who_kept_waiting",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND n_name = 'NATION_1'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q21 shape: the hardest join topology in the set — EXISTS +
    NOT-EXISTS self-correlation on the fact table. DataFrame version:
    both become one semi and one anti join against lineitem keyed on
    l_orderkey (the inequality rides along as a secondary condition),
    so all four joins shuffle on the same order key; supplier/nation
    broadcast. 'Late' = shipped after order date (no commit/receipt
    dates in the testdata)."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    ordersF = T(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = li.join(ordersF, li.l_orderkey == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
        F.col("l_shipdate").alias("o2_shipdate"),
    )
    multi_supp = late.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    sole_late = multi_supp.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey"))
        & (F.col("o2_shipdate") > F.col("o_orderdate")),
        "left_anti",
    )
    supp = F.broadcast(T(spark, sf_dir, "supplier"))
    nation = F.broadcast(
        T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    )
    return (
        sole_late.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH eligible AS (
      SELECT c_custkey, c_nationkey % 5 AS cntrycode, c_acctbal
      FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
    )
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM eligible c
    WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM eligible WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c.c_custkey
          AND o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q22 shape: uncorrelated scalar-average subquery + anti join
    (customers above average balance with no urgent orders — plain
    no-orders is empty at every SF, all customers order). Written as SQL so
    Catalyst's scalar-subquery → broadcast rewrite and NOT EXISTS →
    anti-join decorrelation both run. Phone country codes don't exist;
    c_nationkey % 5 stands in for the substring bucket."""
    T(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    T(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH eligible AS (
          SELECT c_custkey, c_nationkey % 5 AS cntrycode, c_acctbal
          FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
        )
        SELECT cntrycode, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM eligible c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM eligible WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c.c_custkey
              AND o_orderpriority = '1-URGENT')
        GROUP BY cntrycode
        """
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
    ), eligible AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost,
             s_acctbal, s_name, n_name
      FROM cost
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name,
           p_partkey, p_type, ps_supplycost
    FROM eligible e
    JOIN part ON p_partkey = ps_partkey
    WHERE p_size = 15 AND p_type = 'ECONOMY'
      AND ps_supplycost = (
        SELECT min(ps_supplycost) FROM eligible
        WHERE ps_partkey = e.ps_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2 shape (round-3 verdict stretch): min-cost supplier per part —
    the classic correlated scalar subquery, decorrelated the Spark-first
    way as a per-part min aggregate joined back on (part, cost). The
    schema has no partsupp table (TESTDATA.md), so the supply catalog
    derives from lineitem: supply cost of (part, supplier) :=
    min(l_extendedprice / l_quantity) over their lineitems — a pure
    quotient, IEEE-identical across engines, emitted UNROUNDED (the
    SURVEY §7 drift rule: round() is the one diverging op).

    Scale shape: one (partkey, suppkey) partial-agg shuffle over
    lineitem builds the catalog; supplier⋈nation⋈region is a broadcast
    chain with the region filter pre-applied; the per-part min is a
    second partial-agg shuffle over the already-reduced catalog; the
    final equality join on (partkey, cost) co-partitions with it. The
    filtered part side (p_size/p_type cut ~1/300) broadcasts. Top-100
    via TakeOrderedAndProject, never a full sort.
    """
    cost = (
        T(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ps_supplycost"
            )
        )
    )
    dims = (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(T(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(
                T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eligible = cost.join(
        F.broadcast(dims), F.col("s_suppkey") == F.col("ps_suppkey")
    ).select("ps_partkey", "ps_suppkey", "ps_supplycost", "s_acctbal", "s_name", "n_name")
    min_cost = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    parts = T(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    return (
        eligible.join(
            min_cost,
            (eligible.ps_partkey == min_cost.ps_partkey)
            & (eligible.ps_supplycost == min_cost.min_cost),
        )
        .drop(min_cost.ps_partkey)
        .join(F.broadcast(parts), F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "ps_supplycost"
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q9_product_type_profit",
    oracle="""
    WITH cost AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
    )
    SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - ps_supplycost * l_quantity), 2) AS profit_sum
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    JOIN cost ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE p_name LIKE '%gear%'
    GROUP BY supp_nation, o_year
    ORDER BY supp_nation, o_year DESC
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q9 shape (product-type profit): the widest classic topology —
    lineitem at the center of five joins with a LIKE-filtered part cut
    and a per-(part,supplier) cost attribute, aggregated by the
    supplier's nation and order year. The supply catalog derives from
    lineitem exactly as in tpch_q2 (no partsupp in this schema).

    Scale shape: the part cut (LIKE '%gear%', ~1/6) broadcasts and
    prunes lineitem FIRST — every downstream exchange carries only
    matching rows; supplier⋈nation broadcasts; the cost catalog joins
    on (partkey, suppkey) — the one fact-sized shuffle — and orders
    joins on orderkey. Group-by is a partial agg on ~(25 nations ×
    years) cells."""
    cost = (
        T(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ps_supplycost"
            )
        )
    )
    parts = T(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey"
    )
    supp_nation = F.broadcast(
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(T(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = T(spark, sf_dir, "lineitem").join(
        F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
    )
    return (
        li.join(
            cost,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(
            T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(supp_nation, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("ps_supplycost") * F.col("l_quantity")
                ),
                2,
            ).alias("profit_sum")
        )
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice / l_quantity) AS ps_supplycost,
             sum(l_quantity) AS ps_availqty
      FROM lineitem GROUP BY 1, 2
    ), nat AS (
      SELECT ps.* FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
    ), v AS (
      SELECT ps_partkey,
             sum(CAST(round(ps_supplycost * ps_availqty * 100) AS BIGINT)) AS cents
      FROM nat GROUP BY ps_partkey
    )
    SELECT ps_partkey, cents / 100.0 AS value
    FROM v
    WHERE cents > (SELECT 2 * avg(cents) FROM v)
    ORDER BY value DESC, ps_partkey
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q11 shape (important stock identification): per-part inventory
    value for one nation's suppliers, kept when above twice the
    GLOBAL mean part value (scale-invariant, unlike stock q11's
    SF-dependent fraction) — the classic aggregate-vs-global-scalar HAVING. The
    schema has no partsupp (TESTDATA.md), so the catalog derives from
    lineitem exactly like q2: supplycost := min(price/qty), availqty :=
    sum(qty) per (part, supplier).

    Scale shape: one (part, supp) partial-agg shuffle builds the
    catalog; the nation cut is a broadcast semi-chain applied BEFORE
    the per-part rollup (same ordering Catalyst can't derive without
    CBO); the global total is a 1-row broadcast join, never a
    collect; final order on the already-tiny survivor set."""
    li = T(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"),
        F.sum("l_quantity").alias("ps_availqty"),
    )
    nation_supps = (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey")
    )
    nat = ps.join(
        F.broadcast(nation_supps),
        F.col("ps_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    # Fixed-point money arithmetic: each (part, supplier) value is
    # rounded to integer CENTS per element (both engines round the
    # bit-identical product, so the element is engine-exact), and the
    # per-part sum is an exact BIGINT — order-independent, so the
    # threshold comparison and the 2-decimal output can never drift by
    # a ULP the way a double sum's last bit does. This is what real
    # engines' DECIMAL types do, stood up on the double schema.
    cents = F.round(
        F.col("ps_supplycost") * F.col("ps_availqty") * 100, 0
    ).cast("bigint")
    v = nat.groupBy("ps_partkey").agg(F.sum(cents).alias("__cents"))
    total = v.agg((F.avg("__cents") * 2).alias("__threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("__cents") > F.col("__threshold"))
        .select("ps_partkey", (F.col("__cents") / 100.0).alias("value"))
    )


@query(
    "tpch_q16_parts_supplier_relationship",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM lineitem
    )
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q16 shape (parts/supplier relationship): distinct-supplier
    counts per (brand, type, size) bucket with a NOT-IN supplier
    exclusion — an anti join, never a nested loop. The complaint-comment
    exclusion of stock q16 maps to the s_acctbal < 0 supplier slice
    (the schema carries no s_comment); the supply catalog is the
    distinct (part, supplier) projection of lineitem.

    Scale shape: lineitem collapses to the distinct catalog FIRST (one
    payload-free shuffle), then a broadcast anti join against the tiny
    excluded-supplier list, a broadcast join against the filtered part
    slice, and one count-distinct agg keyed by the output buckets —
    everything after the first distinct is broadcast-sized. All-integer
    comparisons: hash-exact on any engine."""
    ps = (
        T(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    parts = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").startswith("PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        ps.join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(parts), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


@query(
    "tpch_q20_potential_promotion",
    oracle="""
    WITH agg AS (
      SELECT l_partkey, l_suppkey,
             sum(l_quantity) AS availqty,
             sum(CASE WHEN l_shipdate >= DATE '1996-01-01'
                       AND l_shipdate < DATE '1997-01-01'
                      THEN l_quantity ELSE 0 END) AS window_qty
      FROM lineitem GROUP BY 1, 2
    ), excess AS (
      SELECT DISTINCT agg.l_suppkey
      FROM agg
      JOIN part ON p_partkey = agg.l_partkey
      WHERE p_name LIKE 'red%'
        AND window_qty > 0
        AND availqty > 0.5 * window_qty
    )
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (SELECT l_suppkey FROM excess)
    ORDER BY s_name
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q20 shape (potential part promotion): suppliers in one nation
    holding excess stock of the 'red%' parts — stock q20's doubly
    nested IN/scalar-subquery tower, decorrelated into ONE conditional
    aggregate: availqty (all-time qty) and the shipment-window qty come
    from the same (part, supplier) rollup, so the whole correlated
    comparison is a filter on one aggregate's columns. Quantities are
    integer-valued doubles — sums and the 0.5× comparison are exact on
    both engines.

    Scale shape: one partial-agg shuffle over lineitem (the two sums
    share it via CASE), broadcast join to the filtered part slice,
    distinct supplier list stays broadcast-sized, and the final
    supplier⋈nation chain is all-broadcast with a semi join against
    the excess list."""
    li = T(spark, sf_dir, "lineitem")
    in_window = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    agg = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("availqty"),
        F.sum(F.when(in_window, F.col("l_quantity")).otherwise(0.0)).alias(
            "window_qty"
        ),
    )
    red_parts = T(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    excess = (
        agg.join(
            F.broadcast(red_parts), F.col("p_partkey") == F.col("l_partkey")
        )
        .filter(
            (F.col("window_qty") > 0)
            & (F.col("availqty") > 0.5 * F.col("window_qty"))
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(excess),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )
