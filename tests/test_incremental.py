"""Incremental aggregate maintenance: retraction inverts the merge."""

from __future__ import annotations


def test_retract_agg_inverts_merge_and_drops_empty_groups(spark):
    """retract_agg (round 11): retracting exactly what a delta merged
    restores the original state bit-for-bit (integer group
    arithmetic), a full self-retraction drops the group, and a
    missing aggregate column raises."""
    import pytest

    from etl_cortex_spark.operators.gold import incremental_agg_merge, retract_agg

    state = spark.createDataFrame(
        [("a", 3, 300), ("b", 2, 200)], "k string, n long, s long"
    )
    delta = spark.createDataFrame(
        [("a", 1, 50), ("c", 4, 400)], "k string, n long, s long"
    )
    merged = incremental_agg_merge(state, delta, ["k"], sum_cols=["s"])
    back = retract_agg(merged, delta, ["k"], sum_cols=["s"])
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, state.collect()))
    # retract ALL of b -> group disappears
    gone = retract_agg(
        state,
        spark.createDataFrame([("b", 2, 200)], "k string, n long, s long"),
        ["k"],
        sum_cols=["s"],
    )
    assert sorted(map(tuple, gone.collect())) == [("a", 3, 300)]
    with pytest.raises(ValueError, match="missing aggregate column"):
        retract_agg(state, delta.drop("s"), ["k"], sum_cols=["s"])


def test_retract_agg_strict_raises_on_over_retraction(spark):
    """Round-12 ADVICE fix: strict=True RAISES on a retraction that
    drives a group's count negative (rows the state never contained),
    instead of silently dropping the group like the default; a clean
    retraction passes strict mode unchanged."""
    import pytest

    from etl_cortex_spark.operators.gold import retract_agg

    state = spark.createDataFrame(
        [("a", 3, 300)], "k string, n long, s long"
    )
    over = spark.createDataFrame(
        [("a", 5, 500)], "k string, n long, s long"
    )
    # default: group silently dropped (documented behavior)
    assert retract_agg(state, over, ["k"], sum_cols=["s"]).count() == 0
    with pytest.raises(Exception, match="retract_agg: inconsistent merge"):
        retract_agg(state, over, ["k"], sum_cols=["s"], strict=True).collect()
    ok = spark.createDataFrame([("a", 1, 100)], "k string, n long, s long")
    rows = retract_agg(state, ok, ["k"], sum_cols=["s"], strict=True).collect()
    assert sorted(map(tuple, rows)) == [("a", 2, 200)]
    # round-13 ADVICE fix: a retraction matching the group's row count
    # but with an inflated sum leaves count == 0 with a nonzero sum
    # residue — strict mode must now catch it too (default drops it).
    bad_sum = spark.createDataFrame(
        [("a", 3, 999)], "k string, n long, s long"
    )
    assert retract_agg(state, bad_sum, ["k"], sum_cols=["s"]).count() == 0
    with pytest.raises(Exception, match="retract_agg: inconsistent merge"):
        retract_agg(
            state, bad_sum, ["k"], sum_cols=["s"], strict=True
        ).collect()
    # a clean FULL deletion (count and sums all reach 0) passes strict
    full = spark.createDataFrame([("a", 3, 300)], "k string, n long, s long")
    assert (
        retract_agg(state, full, ["k"], sum_cols=["s"], strict=True).count()
        == 0
    )
