"""Declarative data-quality checks (Deequ/Great-Expectations style),
evaluated in ONE pass over the table.

The reference app's only validation is dropping all-null rows/columns
(app.py:77-90); a production lakehouse wants assertable constraints.
Each rule is a boolean column expression; ``check_rules`` folds every
rule into a single wide aggregate — one scan, map-side partial
combine, no per-rule jobs — and returns the long-form report
(rule, n_rows, n_violations, violation_frac). ``expect_clean`` turns
the report into a hard gate for pipelines.

At 100 TB this is the difference between running k table scans for k
constraints and running one: all counters ride the same shuffle-free
aggregate, exactly like the c49 column profiler.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def check_rules(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Evaluate named boolean rules (True = row passes) in one
    aggregate pass; NULL rule results count as violations (3VL-safe).

    Returns (rule, n_rows, n_violations, violation_frac), one row per
    rule.
    """
    if not rules:
        raise ValueError("check_rules needs at least one rule")
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(cond, 0).otherwise(1)).alias(f"__v__{name}")
        )
    one = df.agg(*aggs)
    stack_parts = ", ".join(f"'{name}', __v__{name}" for name in rules)
    return (
        one.selectExpr(
            "__rows",
            f"stack({len(rules)}, {stack_parts}) AS (rule, n_violations)",
        )
        .select(
            "rule",
            F.col("__rows").alias("n_rows"),
            "n_violations",
            F.round(F.col("n_violations") / F.col("__rows"), 6).alias("violation_frac"),
        )
    )


def expect_clean(df: DataFrame, rules: dict[str, Column]) -> None:
    """Hard pipeline gate: raise with the offending rules if any rule
    has violations."""
    report = check_rules(df, rules).filter(F.col("n_violations") > 0).collect()
    if report:
        detail = ", ".join(f"{r.rule}: {r.n_violations}" for r in report)
        raise ValueError(f"data-quality violations: {detail}")


def referential_integrity(
    spark: SparkSession,
    relations: list[tuple[str, DataFrame, str, str, DataFrame, str]],
) -> DataFrame:
    """Cross-table FK audit — the multi-table complement of
    ``check_rules``: for each (name, child, child_key, parent_name,
    parent, parent_key) relation, count child rows whose key has no
    parent (NULL keys reported separately — they are not orphans in
    SQL semantics, they are missing keys).

    Each relation is one left-anti join on its key — the minimal plan
    (anti joins don't carry payloads), and at 100 TB each runs
    independently so AQE can broadcast whichever parent is small.
    Returns (relation, n_child, n_null_key, n_orphans).
    """
    frames = []
    for name, child, ck, _pname, parent, pk in relations:
        keys = child.select(F.col(ck).alias("__k"))
        pkeys = parent.select(F.col(pk).alias("__k")).distinct()
        orphans = keys.filter(F.col("__k").isNotNull()).join(pkeys, "__k", "left_anti")
        one = (
            keys.agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.col("__k").isNull().cast("int")).alias("n_null_key"),
            )
            .crossJoin(F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans"))))
            .select(
                F.lit(name).alias("relation"), "n_child", "n_null_key", "n_orphans"
            )
        )
        frames.append(one)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def observe_metrics(df: DataFrame, name: str, metrics: dict[str, Column]):
    """Piggyback named aggregate metrics on whatever action the caller
    runs next (``Dataset.observe``): the counters ride the existing
    pass as accumulator-style expressions — ZERO extra scan, no second
    job, which at 100 TB is the only affordable way to get per-run
    quality counters on every pipeline stage (the check_rules
    alternative is a deliberate separate audit pass).

    Returns ``(observed_df, observation)``; read ``observation.get``
    AFTER an action on ``observed_df`` (or any derivative) completes.
    Only aggregate expressions are legal, and the metrics see the rows
    flowing through THIS point of the plan — before any downstream
    filter the caller adds later.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *(c.alias(n) for n, c in metrics.items())), obs


def calibration_audit(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
    lo: float = -1.0,
    hi: float = 1.0,
) -> DataFrame:
    """CLASSIFIER CALIBRATION AUDIT (round 13 — the reliability-diagram
    feed for a model-based quality filter like d63): bucket predicted
    scores into ``n_buckets`` FIXED-WIDTH bins over [lo, hi] and emit
    per-bin counts + empirical positive rate. A well-calibrated filter
    has pos_rate tracking the bin's score range; systematic gaps mean
    the keep-threshold is mis-set for parts of the corpus — the audit
    every score-gated training mix should run before committing to a
    threshold.

    Fixed-width bins, NOT quantile bins, deliberately: quantile
    binning needs a global rank (a sort or a two-phase D90 rank);
    fixed-width binning is a pure projection + one partial-agg shuffle
    of ≤ n_buckets groups — nothing here scales with corpus size
    except the scan. Scores outside [lo, hi] clamp into the edge bins
    so every row is audited. Emitted columns are exact integers plus
    one single-division rate, the cross-engine-stable projection."""
    b = F.floor(
        (F.col(score_col) - F.lit(lo)) / F.lit((hi - lo) / n_buckets)
    ).cast("int")
    bucket = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
    return (
        df.select(
            bucket.alias("bucket"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pos"),
        )
        .withColumn("pos_rate", F.col("n_pos") / F.col("n"))
    )


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
    eps: float = 1e-4,
) -> DataFrame:
    """POPULATION STABILITY INDEX between a reference and a current
    distribution of one feature (round 13 — the standard data-drift
    gate an ingest pipeline runs before letting a new batch into the
    training mix): fixed-width buckets over [lo, hi] (clamped edges,
    same rationale as `calibration_audit` — no global rank), per-bucket
    shares p (reference) and q (current), PSI = Σ (q−p)·ln(q/p) with
    ``eps``-smoothed shares so empty buckets contribute finitely.
    Rule-of-thumb thresholds the caller applies: <0.1 stable, 0.1–0.25
    moderate shift, >0.25 act.

    Output: one row per bucket (n_ref, n_cur exact integers, shares
    and the psi_term as doubles rounded at 6dp — ln is the one
    transcendental, so the rounding convention is d19's) plus the
    caller sums psi_term for the scalar. Two partial-agg shuffles of
    ≤ n_buckets groups; nothing scales with the data but the scans."""
    def bucketed(df: DataFrame, out: str) -> DataFrame:
        b = F.floor(
            (F.col(value_col) - F.lit(lo)) / F.lit((hi - lo) / n_buckets)
        ).cast("int")
        bucket = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
        return (
            df.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    spark = reference.sparkSession
    all_buckets = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    r = bucketed(reference, "n_ref")
    c = bucketed(current, "n_cur")
    joined = (
        all_buckets.join(r, "bucket", "left")
        .join(c, "bucket", "left")
        .fillna(0, ["n_ref", "n_cur"])
    )
    tot = joined.groupBy().agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    p = F.col("n_ref") / F.col("__tr") + F.lit(eps)
    q = F.col("n_cur") / F.col("__tc") + F.lit(eps)
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.round((q - p) * F.log(q / p), 6).alias("psi_term"),
        )
    )
