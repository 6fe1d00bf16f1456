"""Tier B inventory — README-declared capabilities (SURVEY §2 B1-B14).

Sources (CSV/JSON) read committed fixture files under ``fixtures/`` so
the Spark reader and the DuckDB oracle parse the exact same bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_cortex_spark.operators import cleaning as C
from etl_cortex_spark.operators.quantiles import exact_percentile_disc
from etl_cortex_spark.queries import T, query

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "fixtures")
NATION_CSV = os.path.join(FIXTURES, "nation.csv")
EVENTS_JSONL = os.path.join(FIXTURES, "events.jsonl")


@query(
    "b01_csv_scan",
    oracle=f"""
    SELECT n_regionkey, count(*) AS n_nations
    FROM read_csv_auto('{NATION_CSV}')
    GROUP BY n_regionkey ORDER BY n_regionkey NULLS LAST
    """,
)
def b01(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.csv(NATION_CSV, header=True, inferSchema=True)
    return (
        df.groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey"))
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@query(
    "b02_bronze_passthrough",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def b02(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = T(spark, sf_dir, "region")
    df.createOrReplaceTempView("bronze")
    return spark.sql("SELECT r_regionkey, r_name FROM bronze")


@query(
    "b03_trim_all_strings",
    oracle="""
    SELECT doc_id, trim(' ' || lang || '  ') AS lang, trim(source) AS source
    FROM documents
    """,
)
def b03(spark: SparkSession, sf_dir: str) -> DataFrame:
    padded = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit(" "), F.col("lang"), F.lit("  ")).alias("lang"),
        F.col("source"),
    )
    return C.trim_strings(padded)


@query(
    "b07_null_filter",
    oracle="""
    SELECT event_id, nullif(event_type, 'error') AS et FROM events
    WHERE nullif(event_type, 'error') IS NOT NULL
    """,
)
def b07(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = T(spark, sf_dir, "events").select(
        "event_id", F.expr("nullif(event_type, 'error')").alias("et")
    )
    return df.na.drop(subset=["et"])


@query(
    "b08_date_range_filter",
    oracle="""
    SELECT o_orderstatus, count(*) AS qtd FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 23:59:59'
    GROUP BY o_orderstatus ORDER BY qtd DESC, o_orderstatus
    """,
)
def b08(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between("1996-01-01 00:00:00", "1997-12-31 23:59:59"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("qtd"))
    )


@query(
    "b11_sql_passthrough",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_bal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def b11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's general SQL surface: register layer views, run user SQL."""
    T(spark, sf_dir, "customer").createOrReplaceTempView("gold")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers, round(avg(c_acctbal), 2) AS avg_bal
        FROM gold GROUP BY c_mktsegment
        """
    )


@query(
    "b12_histogram",
    oracle="""
    SELECT CAST(floor((p_retailprice - 900.0) / 10.0) AS BIGINT) AS bin,
           count(*) AS n
    FROM part GROUP BY bin ORDER BY bin
    """,
)
def b12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric histogram: fixed-width binning + count (README.md:42)."""
    from etl_cortex_spark.operators.viz import histogram

    return histogram(T(spark, sf_dir, "part"), "p_retailprice", lo=900.0, width=10.0)


@query(
    "b13_timeseries_daily",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY day ORDER BY day
    """,
)
def b13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series aggregation: value over time (README.md:43)."""
    from etl_cortex_spark.operators.viz import time_series

    return time_series(T(spark, sf_dir, "events"), "ts", "value", grain="day")


@query(
    "b14_category_counts",
    oracle="""
    SELECT event_type, count(*) AS qtd FROM events
    GROUP BY event_type ORDER BY qtd DESC, event_type
    """,
)
def b14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_cortex_spark.operators.viz import category_counts

    return category_counts(T(spark, sf_dir, "events"), "event_type")


@query(
    "c03_json_scan",
    oracle=f"""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM read_json_auto('{EVENTS_JSONL}')
    GROUP BY event_type ORDER BY event_type
    """,
)
def c03(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.json(EVENTS_JSONL)
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@query(
    "b13b_resample_gapfill_locf",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
             count(*) AS n, round(sum(value), 2) AS val
      FROM events GROUP BY day, event_type
    ),
    cal AS (
      SELECT unnest(generate_series(
               (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) FROM events),
               (SELECT max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) FROM events),
               INTERVAL 1 DAY)) :: DATE AS day
    ),
    dense AS (
      SELECT c.day, k.event_type, coalesce(d.n, 0) AS n, d.val
      FROM cal c
      CROSS JOIN (SELECT DISTINCT event_type FROM events) k
      LEFT JOIN daily d ON d.day = c.day AND d.event_type = k.event_type
    ),
    grouped AS (
      SELECT *, count(val) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS grp
      FROM dense
    )
    SELECT CAST(day AS TIMESTAMP) AS day, event_type, n, val,
           max(val) OVER (PARTITION BY event_type, grp) AS val_filled
    FROM grouped
    """,
)
def b13b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 extended to the dense-series shape: full calendar, zero-count
    gap days, last-observation-carried-forward. The oracle implements
    LOCF with the portable cumulative-count trick (count(val) OVER …
    forms a group per observation; max within group = carried value) —
    bit-identical to Spark's last(ignoreNulls) because each group holds
    exactly one non-NULL."""
    from etl_cortex_spark.operators.timeseries import resample_daily_locf

    ev = T(spark, sf_dir, "events")
    out = resample_daily_locf(ev, "ts", "event_type", "value")
    # DateType → timestamp for cross-engine dtype parity (dates render
    # as objects in pandas; timestamps compare as datetime64 on both)
    return out.withColumn("day", F.col("day").cast("timestamp"))


@query(
    "b15_scd2_history",
    oracle="""
    WITH silver AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id % 10 = 0
    ), ch AS (
      SELECT *, lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM silver
    ), runs AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ch WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
           lead(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL
               AS is_current
    FROM runs
    ORDER BY user_id, valid_from, event_id
    """,
)
def b15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 (A24-adjacent gold transform): type-2 SCD history from an
    observation stream — collapse consecutive identical states per key
    into validity ranges. Both windows share the user_id partitioning:
    one shuffle total."""
    from etl_cortex_spark.operators.gold import scd2_from_snapshots

    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    out = scd2_from_snapshots(
        ev, key_cols=["user_id"], attr_cols=["event_type"],
        ts_col="ts", tiebreak_cols=["event_id"],
    )
    return out


@query(
    "b16_batch_sessionization",
    oracle="""
    WITH silver AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id % 10 = 0
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM silver WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def b16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16 / D7 batch twin: gaps-and-islands sessionization (30-minute
    inactivity gap) — the oracle-checkable batch equivalent of the
    rows-only streaming session_window query. Both windows and the
    final aggregate share the user_id hash partitioning: one shuffle."""
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Compare at full timestamp precision (the oracle compares the raw
    # interval): casting to whole seconds would mis-bucket a sub-second
    # gap straddling exactly 1800 s if the source ever carries them.
    prev_ts = F.lag("ts").over(w)
    gap_over = F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")
    flagged = ev.withColumn(
        "new_session",
        F.when(prev_ts.isNull() | gap_over, 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# --- B17: MERGE/upsert (incremental gold refresh) -----------------------------


@query(
    "b17_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < DATE '1996-01-01'
    ), source AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             round(o_totalprice + 1000.0, 2) AS o_totalprice
      FROM orders WHERE o_orderdate >= DATE '1995-06-01'
    )
    SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           round(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                      ELSE t.o_totalprice END, 2) AS o_totalprice,
           (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL) AS updated,
           (t.o_orderkey IS NULL) AS inserted
    FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
    ORDER BY o_orderkey
    """,
)
def b17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.merge_upsert — SQL MERGE semantics as one full-outer
    shuffle join: a mid-1995 cutover where late orders arrive as a
    delta batch (status reset to 'U', flat late-surcharge repricing) against the
    existing gold snapshot. Target-only rows pass through, overlap
    updates, delta-only inserts; audit flags prove which branch fired."""
    from etl_cortex_spark.operators.gold import merge_upsert

    orders = T(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderdate") < "1996-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    source = orders.filter(F.col("o_orderdate") >= "1995-06-01").select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
    )
    merged = merge_upsert(target, source, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "updated",
        "inserted",
    )


@query(
    "b18_funnel_steps",
    oracle="""
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    s0 AS (SELECT user_id, min(ts) AS t FROM e WHERE event_type = 'signup' GROUP BY 1),
    s1 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s0 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
    counts AS (
      SELECT 0 AS step_idx, 'signup' AS step, count(*) AS n_users FROM s0
      UNION ALL SELECT 1, 'click', count(*) FROM s1
      UNION ALL SELECT 2, 'purchase', count(*) FROM s2
    )
    SELECT step_idx, step, n_users,
           round(CAST(n_users AS DOUBLE) /
                 max(CASE WHEN step_idx = 0 THEN n_users END) OVER (), 4) AS conv
    FROM counts ORDER BY step_idx
    """,
)
def b18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """behavior.funnel_counts — STRICT ordered funnel (each step's
    first qualifying event must be after the user's previous-step
    time, not merely co-occur). k steps = k pushdown-filtered scans
    (event_type reaches the parquet reader) + k aggs/joins all hashed
    on user_id, so stages after the first reuse the partitioning."""
    from etl_cortex_spark.operators.behavior import funnel_counts

    ev = T(spark, sf_dir, "events")
    return funnel_counts(ev, ["signup", "click", "purchase"])


@query(
    "b19_cohort_retention",
    oracle="""
    WITH e AS (SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
               FROM events),
    first_seen AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
    active AS (SELECT DISTINCT user_id, week FROM e),
    sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM first_seen GROUP BY 1)
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
           count(*) AS n_active,
           max(s.cohort_size) AS cohort_size
    FROM active a JOIN first_seen f USING (user_id) JOIN sizes s USING (cohort_week)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def b19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """behavior.cohort_retention — weekly first-seen cohorts × active
    week offsets, integer counts only (ratios are the consumer's
    division: small-cohort ratios land on exact .5 boundaries where
    engines' rounding disagrees). Two keyed shuffles + the (user,
    week) distinct that rides the same partial agg."""
    from etl_cortex_spark.operators.behavior import cohort_retention

    ev = T(spark, sf_dir, "events")
    # date → timestamp on both sides: the repo's cross-engine date convention
    return cohort_retention(ev).withColumn(
        "cohort_week", F.col("cohort_week").cast("timestamp")
    )


@query(
    "b20_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day, n,
             avg(CAST(n AS DOUBLE)) OVER win AS m,
             stddev_samp(CAST(n AS DOUBLE)) OVER win AS s,
             count(n) OVER win AS h
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
           round(CASE WHEN h >= 7 AND s > 0 THEN (n - m) / s END, 4) AS z,
           COALESCE(abs(CASE WHEN h >= 7 AND s > 0 THEN (n - m) / s END) > 2.0,
                    FALSE) AS is_anomaly
    FROM w ORDER BY event_type, day
    """,
)
def b20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries.zscore_anomalies — trailing-window z-score anomaly
    flags on daily event counts. The window excludes the current day
    (an anomaly can't mask itself) and requires 7 days of history +
    nonzero variance; integer daily counts keep the window inputs
    engine-exact, so only summation-order ULPs separate the engines
    and round(,4) absorbs them. One keyed shuffle total."""
    from etl_cortex_spark.operators.timeseries import zscore_anomalies

    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        zscore_anomalies(daily)
        .withColumn("day", F.col("day").cast("timestamp"))
    )


@query(
    "b21_transition_matrix",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events
    ),
    nxt AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM e
    )
    SELECT event_type, next_type, count(*) AS n
    FROM nxt WHERE next_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def b21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (first-order Markov counts): for each
    user's time-ordered stream, count (event_type -> next event_type)
    pairs — the path-analysis primitive behind sankey/flow charts.
    (ts, event_id) ordering makes simultaneous events deterministic.
    The window and the final agg share one user_id-keyed shuffle."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        nxt.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "b13c_resample_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             round(sum(value), 2) AS val
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type, day,
             CASE WHEN dayofmonth(day) % 5 != 0 THEN val END AS val,
             date_diff('day', DATE '1970-01-01', day) AS dayn
      FROM daily
    ),
    w AS (
      SELECT *,
        last_value(val IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN val IS NOT NULL THEN dayn END IGNORE NULLS) OVER wb AS pd,
        first_value(val IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN val IS NOT NULL THEN dayn END IGNORE NULLS) OVER wf AS nd
      FROM g
      WINDOW wb AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, val,
           round(CASE WHEN val IS NOT NULL THEN val
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + (nv - pv) * (dayn - pd) / (nd - pd)
                      WHEN pv IS NOT NULL THEN pv
                      ELSE nv END, 4) AS val_interp
    FROM w ORDER BY event_type, day
    """,
)
def b13c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries.interpolate_gaps — B13b's LOCF sibling with linear
    interpolation: gaps (here synthesized by nulling every 5th
    calendar day) fill on the line between the nearest observations,
    head gaps backfill, tail gaps carry forward. All four
    prev/next windows share the LOCF shuffle; the identical
    left-associative arithmetic on both engines makes round(,4)
    exact."""
    from etl_cortex_spark.operators.timeseries import interpolate_gaps

    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("val"))
    gapped = daily.withColumn(
        "val", F.when(F.dayofmonth("day") % 5 != 0, F.col("val"))
    )
    out = interpolate_gaps(gapped)
    return (
        out.select(
            "event_type",
            F.col("day").cast("timestamp").alias("day"),
            "val",
            "val_interp",
        )
    )


@query(
    "b22_incremental_agg",
    oracle="""
    WITH state AS (
      SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
      FROM orders WHERE o_orderdate < '1996-01-01' GROUP BY 1
    ),
    delta AS (
      SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
      FROM orders WHERE o_orderdate >= '1996-01-01' GROUP BY 1
    ),
    merged AS (
      SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n, sum(total) AS total
      FROM (SELECT * FROM state UNION ALL SELECT * FROM delta)
      GROUP BY 1
    ),
    full_ AS (
      SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY 1
    )
    SELECT m.o_orderstatus, m.n, round(m.total, 2) AS total,
           (m.n = f.n AND round(m.total, 2) = f.total) AS matches_full
    FROM merged m JOIN full_ f USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
)
def b22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.incremental_agg_merge — materialized-view maintenance for
    algebraic aggregates: fold a delta batch's partial (count, sum)
    into the stored state instead of rescanning history; the query
    joins the merged view against a full recompute and asserts
    equality in-plan (matches_full). Sums stay raw doubles until the
    final round so merging never loses sub-cent mass; 2-decimal
    inputs make the rounded totals engine-exact."""
    from etl_cortex_spark.operators.gold import incremental_agg_merge

    orders = T(spark, sf_dir, "orders")
    mk = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total")
    )
    state = mk(orders.filter(F.col("o_orderdate") < "1996-01-01"))
    delta = mk(orders.filter(F.col("o_orderdate") >= "1996-01-01"))
    merged = incremental_agg_merge(
        state, delta, ["o_orderstatus"], count_col="n", sum_cols=["total"]
    )
    full = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("fn"), F.round(F.sum("o_totalprice"), 2).alias("ftotal")
    )
    return (
        merged.join(full, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n",
            F.round("total", 2).alias("total"),
            (
                (F.col("n") == F.col("fn"))
                & (F.round("total", 2) == F.col("ftotal"))
            ).alias("matches_full"),
        )
    )


@query(
    "b23_cdc_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 50 != 0
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN round(o_totalprice + 500.0, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 61 != 0
    ),
    j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_orderkey IS NOT NULL AS in_o, n.o_orderkey IS NOT NULL AS in_n,
             o.o_orderstatus AS old_o_orderstatus, n.o_orderstatus AS new_o_orderstatus,
             o.o_totalprice AS old_o_totalprice, n.o_totalprice AS new_o_totalprice
      FROM old o FULL OUTER JOIN new n USING (o_orderkey)
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_o THEN 'I' WHEN NOT in_n THEN 'D' ELSE 'U' END AS change_type,
           old_o_orderstatus, new_o_orderstatus, old_o_totalprice, new_o_totalprice
    FROM j
    WHERE NOT in_o OR NOT in_n
       OR old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
       OR old_o_totalprice IS DISTINCT FROM new_o_totalprice
    ORDER BY o_orderkey
    """,
)
def b23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.cdc_diff — change-set extraction between snapshots (the
    complement of b17's MERGE, which applies one): deterministic
    synthetic drift (keys %50 missing from old → inserts, %61 missing
    from new → deletes, %7 price bump → updates), null-safe value
    compare, unchanged rows never emitted. One full-outer keyed
    shuffle."""
    from etl_cortex_spark.operators.gold import cdc_diff

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 50 != 0)
    new = orders.filter(F.col("o_orderkey") % 61 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round(F.col("o_totalprice") + 500.0, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    return cdc_diff(old, new, ["o_orderkey"])


@query(
    "b24_experiment_report",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    arms AS (
      SELECT user_id,
             CAST((strpos('0123456789abcdef',
                    substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2
                  AS INT) AS arm
      FROM users
    ),
    per_user AS (
      SELECT e.user_id, a.arm,
             sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS goals
      FROM events e JOIN arms a USING (user_id)
      GROUP BY 1, 2
    )
    SELECT arm,
           count(*) AS n_users,
           CAST(sum(CASE WHEN goals > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converters,
           CAST(sum(goals) AS BIGINT) AS n_goal_events
    FROM per_user GROUP BY arm ORDER BY arm
    """,
)
def b24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """behavior.assign_experiment + experiment_report — deterministic
    A/B assignment (first md5 hex char of salt:user mod arms — the
    position-in-alphabet form is portable SQL, unlike hex→int base
    conversion) and the per-arm readout in integer counts: users,
    converters, goal events. Assignment is a pure projection; the
    report is one user-keyed agg + broadcast-sized arm join."""
    from etl_cortex_spark.operators.behavior import experiment_report

    ev = T(spark, sf_dir, "events")
    return experiment_report(ev, goal="purchase", salt="exp1", arms=2)


@query(
    "b25_heatmap_2d",
    oracle="""
    SELECT CAST(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT) AS price_bin,
           CAST(floor(CAST(o_custkey % 100 AS DOUBLE) / 10.0) AS BIGINT) AS cust_bin,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def b25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (heatmap chart feed) — B12's binning generalized
    to two axes: fixed-width bins on both dimensions, count + measure
    per cell. One partial-agg shuffle keyed on the (tiny) bin pair;
    integer bin indices keep the cell boundaries engine-exact."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("long").alias("price_bin"),
            F.floor((F.col("o_custkey") % 100).cast("double") / 10.0)
            .cast("long")
            .alias("cust_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "b26_rfm_segments",
    oracle="""
    WITH ref AS (SELECT max(CAST(ts AS TIMESTAMP)) AS t FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('day', max(CAST(ts AS TIMESTAMP)), (SELECT t FROM ref)) AS recency_days,
             count(*) AS frequency,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchases
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT *,
             ntile(4) OVER (ORDER BY recency_days, user_id) AS r_quartile,
             ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
             ntile(4) OVER (ORDER BY n_purchases DESC, user_id) AS m_quartile
      FROM per_user
    )
    SELECT user_id, recency_days, frequency, n_purchases,
           r_quartile, f_quartile, m_quartile,
           CASE WHEN r_quartile = 1 AND f_quartile = 1 THEN 'champion'
                WHEN r_quartile >= 3 AND f_quartile >= 3 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored ORDER BY user_id
    """,
)
def b26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quartiles per
    user with a rule-based segment label. All three metrics come from
    ONE user-keyed aggregate; the quartiles are ntile windows with
    user_id tiebreaks so equal metrics bucket deterministically on
    both engines; integer metrics throughout (purchase count stands in
    for monetary — events.value sums would re-order float addition)."""
    ev = T(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("t"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("n_purchases"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff(F.to_date("t"), F.to_date("last_ts")).alias("recency_days"),
            "frequency",
            "n_purchases",
        )
    )
    # Round-6 fix: the windowed ntile(4) OVER (ORDER BY ...) funnels
    # EVERY user through one task, three times — the c69-class
    # data-sized global window. global_ntile (skew.py) is the
    # two-phase distributed rank with identical SQL-ntile semantics.
    from etl_cortex_spark.operators.skew import global_ntile

    scored = global_ntile(
        per_user, 4, [F.col("recency_days"), F.col("user_id")], "r_quartile"
    )
    scored = global_ntile(
        scored, 4, [F.desc("frequency"), F.col("user_id")], "f_quartile"
    )
    scored = global_ntile(
        scored, 4, [F.desc("n_purchases"), F.col("user_id")], "m_quartile"
    ).select(
        "user_id", "recency_days", "frequency", "n_purchases",
        "r_quartile", "f_quartile", "m_quartile",
    )
    seg = (
        F.when((F.col("r_quartile") == 1) & (F.col("f_quartile") == 1), "champion")
        .when((F.col("r_quartile") >= 3) & (F.col("f_quartile") >= 3), "at_risk")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg)


@query(
    "b27_rolling_wau",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
      FROM events
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM active),
    contrib AS (
      SELECT user_id, CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY)) AS DATE)
               AS report_day
      FROM active
    )
    SELECT CAST(report_day AS TIMESTAMP) AS report_day,
           count(DISTINCT user_id) AS wau
    FROM contrib
    WHERE report_day BETWEEN (SELECT lo FROM bounds) AND (SELECT hi FROM bounds)
    GROUP BY report_day ORDER BY report_day
    """,
)
def b27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU per day) — the windowed
    DISTINCT that plain window frames cannot express: each (user,
    active day) pair is exploded into the 7 report days it supports
    (bounded 7x fan-out riding the scan), then one distinct-count agg
    per report day. No self-join of the calendar against the activity
    table, no quadratic anything; the fan-out factor is the window
    length, a constant."""
    ev = T(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    bounds = active.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("report_day").between(F.col("lo"), F.col("hi")))
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("report_day").cast("timestamp").alias("report_day"), "wau")
    )


# --- B28: time-weighted average over irregular samples ------------------------


@query(
    "b28_twap",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    d AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      - ts) AS dur
      FROM e
    )
    SELECT user_id,
           round(sum(value * dur) / sum(dur), 2) AS twap,
           CAST(sum(dur) AS BIGINT) AS total_us,
           count(*) AS n_intervals
    FROM d WHERE dur IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def b28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries.twap — time-weighted average of each user's value
    stream over IRREGULAR sample spacing (the TWAP integral a
    sensor/price pipeline needs; a plain avg() overweights bursts).
    Weights are exact integer microsecond forward intervals from one
    lead() window; the aggregate reuses the window's user
    partitioning, so the whole query is a single exchange. The
    event_id tiebreak makes the interval assignment total-order
    deterministic (operators/timeseries.py:twap)."""
    from etl_cortex_spark.operators.timeseries import twap

    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "value", "ts")
    return twap(ev, "user_id", "ts", "value", "event_id")


# --- B29: equi-depth histogram ------------------------------------------------

_EQUIDEPTH_SQL = """
WITH q AS (
  SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS q1,
         percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice) AS q2,
         percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS q3
  FROM {li}
)
SELECT CASE WHEN l_extendedprice <= q1 THEN 0
            WHEN l_extendedprice <= q2 THEN 1
            WHEN l_extendedprice <= q3 THEN 2
            ELSE 3 END AS bucket,
       count(*) AS n,
       min(l_extendedprice) AS lo,
       max(l_extendedprice) AS hi
FROM {li} CROSS JOIN q
GROUP BY 1 ORDER BY 1
"""


@query("b29_equidepth_histogram", _EQUIDEPTH_SQL.format(li="lineitem"))
def b29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram — the optimizer-stats /
    data-profiling complement of b12's equi-width bins: boundaries are
    percentile_disc quartiles (ACTUAL data points, c61's cross-engine
    guarantee), so bucket assignment, counts, and per-bucket min/max
    are all exact with no rounding anywhere. The 1-row quartile frame
    broadcasts onto the scan; the bucket agg partial-combines.

    Round 19: the three native percentile_disc aggregates (each its
    own per-partition value map — 3.5 s of the 4.9 s total at sf0.1
    on a 97%-distinct price column) are replaced by ONE histogram-
    refinement selection (`operators/quantiles.exact_percentile_disc`,
    bit-equal quartiles pinned in tests/test_quantiles.py), and the
    trailing ORDER BY's range-sampling re-execution by a 4-row local
    sort. The oracle keeps the declarative percentile_disc SQL —
    same quartile data points, same buckets, same hash."""
    li = T(spark, sf_dir, "lineitem").select("l_extendedprice")
    q = exact_percentile_disc(
        li, "l_extendedprice", [0.25, 0.50, 0.75],
        out_names=["q1", "q2", "q3"],
    )
    bucket = (
        F.when(F.col("l_extendedprice") <= F.col("q1"), 0)
        .when(F.col("l_extendedprice") <= F.col("q2"), 1)
        .when(F.col("l_extendedprice") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bucket")
    )
    return (
        li.crossJoin(F.broadcast(q))
        .select(bucket, "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


# --- B30: MAD-based robust anomaly detection ----------------------------------

_MAD_SQL = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
  FROM {ev} GROUP BY 1, 2
),
med AS (
  SELECT event_type,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS BIGINT) AS med
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n, m.med, abs(d.n - m.med) AS ad
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
mad AS (
  SELECT event_type,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) AS BIGINT) AS mad
  FROM dev GROUP BY 1
)
SELECT v.event_type, CAST(v.day AS TIMESTAMP) AS day, v.n, v.med, v.ad, t.mad
FROM dev v JOIN mad t ON v.event_type = t.event_type
WHERE v.ad > 2.0 * 1.4826 * t.mad
"""


@query("b30_anomaly_mad", _MAD_SQL.format(ev="events"))
def b30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust anomaly detection — the outlier-resistant
    sibling of b20's z-score (a single spike inflates a standard
    deviation and hides itself; the median absolute deviation does
    not budge). Both statistics are percentile_disc — actual data
    points over integer counts, so every number in the pipeline is
    exact and the 1.4826 normal-consistency scaling is the only
    floating multiply, identical in any engine. Two k-row grouped
    medians broadcast back onto the daily frame; identical SQL text
    runs on both engines."""
    ev = T(spark, sf_dir, "events").select("event_type", "ts")
    ev.createOrReplaceTempView("b30_events")
    return spark.sql(_MAD_SQL.format(ev="b30_events"))


# --- B31: conversion-latency distribution -------------------------------------

_CONV_LATENCY_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
  FROM {ev} WHERE event_type = 'click'
),
p AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
  FROM {ev} WHERE event_type = 'purchase'
),
conv AS (
  SELECT c.user_id, c.click_id, min({gapus}) AS gap_us
  FROM c JOIN p ON c.user_id = p.user_id
   AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 60 MINUTE
  GROUP BY c.user_id, c.click_id
)
SELECT count(*) AS n_conversions,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us) AS BIGINT) AS p50_us,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_us) AS BIGINT) AS p90_us,
       CAST(min(gap_us) AS BIGINT) AS min_us,
       CAST(max(gap_us) AS BIGINT) AS max_us
FROM conv
"""


@query(
    "b31_conversion_latency",
    _CONV_LATENCY_SQL.format(ev="events", gapus="epoch_us(p.pts - c.cts)"),
)
def b31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution — the product question behind
    the attribution join (d8c answers WHICH purchases convert, this
    answers HOW FAST): each click's time-to-FIRST-purchase within the
    hour, summarized as exact discrete percentiles. Every number is
    integer microseconds (min-gap agg, percentile_disc data points),
    so the whole report is bit-exact cross-engine. The interval join
    carries (user, ts) pairs only; the latency summary is one global
    aggregate. Same SQL text on both engines except one spelling:
    microsecond extraction is unix_micros subtraction in Spark,
    epoch_us of the interval in DuckDB."""
    ev = T(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    ev.createOrReplaceTempView("b31_events")
    return spark.sql(
        _CONV_LATENCY_SQL.format(
            ev="b31_events", gapus="unix_micros(p.pts) - unix_micros(c.cts)"
        )
    )


@query(
    "b32_point_in_time_join",
    oracle="""
    WITH silver AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id % 10 = 0
    ), ch AS (
      SELECT *, lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM silver
    ), runs AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ch WHERE prev IS NULL OR prev <> event_type
    ), hist AS (
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (
                 PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
      FROM runs
    ), facts AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id % 10 = 0 AND event_id % 3 = 0
    )
    SELECT f.user_id, f.event_id, f.ts,
           h.event_type AS state_at_event, h.valid_from
    FROM facts f LEFT JOIN hist h
      ON f.user_id = h.user_id
     AND f.ts >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts < h.valid_to)
    ORDER BY f.user_id, f.event_id
    """,
)
def b32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold.point_in_time_join — the FEATURE-STORE primitive (round 13;
    the temporal-leakage guard every training pipeline joining facts to
    mutable dimensions needs): each fact event is enriched with the
    SCD2 state (b15's history) valid AT ITS OWN TIMESTAMP — from-
    inclusive / to-exclusive, open current row — never a state written
    later. Using the current snapshot here is the classic label-leakage
    bug; this operator is the correct-by-construction alternative, and
    the interval semantics guarantee each fact matches AT MOST ONE
    history row (back-to-back ranges can't double-match; the driver's
    row-count check would catch a fan-out). Plan: equi-join on the key
    with the validity range as a residual condition — per-key history
    is state-CHANGES (dim-sized), so no cartesian, no range binning.
    Oracle replays history construction + the temporal join verbatim
    (operators/gold.py:point_in_time_join)."""
    from etl_cortex_spark.operators.gold import (
        point_in_time_join,
        scd2_from_snapshots,
    )

    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    hist = scd2_from_snapshots(
        ev, key_cols=["user_id"], attr_cols=["event_type"],
        ts_col="ts", tiebreak_cols=["event_id"],
    ).drop("is_current")
    facts = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id", "event_id", "ts"
    )
    return point_in_time_join(
        facts, hist.withColumnRenamed("event_type", "state_at_event"),
        keys=["user_id"], fact_ts="ts",
    ).select(
        "user_id", "event_id", "ts", "state_at_event", "valid_from"
    )
