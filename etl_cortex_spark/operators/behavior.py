"""Behavioral analytics over event streams: ordered funnels and
cohort retention.

The reference app's event surface stops at value counts and
time-series aggregates (app.py:221-268 — the chart feeders); these
are the two next queries every product-analytics user of an events
table runs. Both are pure DataFrame compositions:

- ``funnel_counts`` is the STRICT ordered funnel (step i+1 must
  happen after the user's step-i time, not merely co-occur). Each
  step is a pushdown-filtered scan + keyed agg + keyed join, all on
  the user key: after the first shuffle every later stage reuses the
  same hash partitioning, so a k-step funnel is k co-partitioned
  aggregations — no all-events sort, no Python.
- ``cohort_retention`` emits the (cohort_week, week_offset) activity
  matrix as integers. Deliberately NO ratio column: small-cohort
  ratios land on exact .5 rounding boundaries where engines disagree
  (HALF_UP vs binary) — consumers divide n_active / cohort_size
  themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strict ordered funnel: for each step, the number of users whose
    first qualifying event happens AFTER their previous step's time.

    Returns (step_idx, step, n_users, conv) where conv is the
    conversion vs the first step, rounded to 4 decimals.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    u, t = F.col(user_col), F.col(ts_col)

    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(t).alias("__t"))
    )
    stage_frames = [cur]
    for s in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == s)
            .join(cur.select(user_col, F.col("__t").alias("__prev")), user_col)
            .filter(t > F.col("__prev"))
            .groupBy(user_col)
            .agg(F.min(t).alias("__t"))
        )
        stage_frames.append(nxt)
        cur = nxt

    counts = None
    for i, (s, frame) in enumerate(zip(steps, stage_frames)):
        one = frame.agg(
            F.lit(i).alias("step_idx"),
            F.lit(s).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
        )
        counts = one if counts is None else counts.unionByName(one)

    w = Window.orderBy("step_idx").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        counts.withColumn("__first", F.first("n_users").over(w))
        .select(
            "step_idx",
            "step",
            "n_users",
            F.round(F.col("n_users") / F.col("__first"), 4).alias("conv"),
        )
    )


def cohort_retention(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix: users grouped by their
    first-seen ISO week; for each later week, how many were active.

    Returns (cohort_week date, week_offset int, n_active, cohort_size)
    — integer counts only (see module docstring for why no ratio).
    Two keyed shuffles: first-seen per user, then the matrix rollup;
    the active-weeks dedup rides the same (user, week) partial agg.
    """
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    first_seen = (
        events.groupBy(user_col).agg(F.min(week).alias("cohort_week"))
    )
    active = events.select(user_col, week.alias("week")).distinct()
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        active.join(first_seen, user_col)
        .groupBy(
            "cohort_week",
            (F.datediff("week", F.col("cohort_week")) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(sizes, "cohort_week")
    )


def assign_experiment(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    salt: str = "exp1",
    arms: int = 2,
) -> DataFrame:
    """Deterministic experiment-arm assignment: arm = (first md5 hex
    char of "salt:user") mod ``arms``. Content-hash (not RNG), so
    every engine, run, and partitioning agrees, users keep their arm
    forever, and a new salt reshuffles independently of past
    experiments. Pure projection — zero shuffles.

    The hex char carries 4 uniform bits, so ``arms`` must divide 16 —
    the same quantization trade stratified_sample makes for exact
    cross-engine reproducibility (position-in-alphabet is portable
    SQL; hex→int base conversion is not).
    """
    if 16 % arms != 0:
        raise ValueError("arms must divide 16 for an unbiased hex-char split")
    h = F.md5(
        F.concat(F.lit(salt), F.lit(":"), F.col(user_col).cast("string")).cast("binary")
    )
    v = F.position(F.substring(h, 1, 1), F.lit("0123456789abcdef")) - 1
    return df.withColumn("arm", (v % arms).cast("int"))


def experiment_report(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    goal: str = "purchase",
    salt: str = "exp1",
    arms: int = 2,
) -> DataFrame:
    """Per-arm experiment readout: users, converters (≥1 goal event),
    goal events per user — integer counts only; significance math is
    the consumer's job (ratios don't survive cross-engine rounding;
    see cohort_retention).

    Assignment is per USER (distinct users → arm), then one keyed agg
    over the events. The sample-ratio check is the first thing an
    experimenter reads: arms of a healthy split differ only by
    hash noise.
    """
    users = events.select(user_col).distinct()
    arms_df = assign_experiment(users, user_col=user_col, salt=salt, arms=arms)
    per_user = (
        events.groupBy(user_col)
        .agg(
            F.sum((F.col(type_col) == goal).cast("int")).alias("__goals"),
        )
        .join(arms_df, user_col)
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum((F.col("__goals") > 0).cast("int")).alias("n_converters"),
            F.sum("__goals").alias("n_goal_events"),
        )
    )
