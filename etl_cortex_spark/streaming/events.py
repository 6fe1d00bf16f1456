"""Structured Streaming over the events table (SURVEY §2 D6-D8).

The reference has no streaming story at all (SURVEY §2 "Streaming");
these are the mandated tier-D extensions, defined Spark-first:

- file-source replay of the events parquet as a stream,
- event-time watermarks (D6),
- tumbling / sliding / session windows (D7),
- ``dropDuplicatesWithinWatermark`` stateful dedup (D8).

Tests drive them with ``trigger(availableNow=True)`` +
``processAllAvailable`` so a bounded replay completes synchronously
and can be compared 1:1 against the equivalent batch plan (and the
DuckDB oracle). At scale the same code takes a Kafka source and a real
sink; only the ``format`` changes.

The events parquet has stored ``ts`` as TIMESTAMP(NANOS) in some
environments and TIMESTAMP(MICROS) in others — ``read_events_stream``
branches on the schema Spark infers, exactly like the footer-gated
conversion in ``sources/tables.load_table``, so both layouts stream
identically.
"""

from __future__ import annotations

import os
from itertools import count

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_QUERY_SEQ = count()


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream replaying the events parquet.

    Sets the two session facts every read path needs (nanosAsLong in
    case the parquet stores TIMESTAMP(NANOS), UTC for timestamp
    parity) — the same values ``sources.tables.load_table`` sets, so
    batch and stream agree. The ``ts`` handling mirrors the batch
    path's footer-gated conversion, but keyed off the schema Spark
    actually inferred:

    - LongType → the footer said TIMESTAMP(NANOS) and nanosAsLong
      surfaced raw nanoseconds; restore TimestampType at µs precision
      (integer ``div 1000`` — float division loses precision > 2^53 ns).
    - TIMESTAMP_NTZ / TimestampType → the footer said µs (or ms);
      cast to session-tz TimestampType so every downstream watermark /
      window / interval expression sees one type either way.

    The shuffle-partition downsizing for state stores is NOT done
    here: ``run_to_memory`` scopes it to the streaming query and
    restores the caller's setting afterwards.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Multi-file table layout (any real ingest, the bench relayout,
        # the slope corpora): stream the table DIRECTORY itself.
        # Round-11 bug fix: the glob branch below applied to this case
        # filtered on the literal name "events.parquet", which no
        # part-file inside the directory matches — every streaming
        # entry silently read ZERO rows from multi-file layouts
        # (caught by the sf10 probe; regression-pinned in
        # tests/test_streaming_ts.py).
        stream = spark.readStream.schema(schema).format("parquet").load(path)
    else:
        # Single-file layout (the driver-generated testdata):
        # FileStreamSource wants a directory — stream the sf dir and
        # glob down to the one table file.
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    from pyspark.sql.types import LongType

    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File-source stream replaying any testdata table (round 14 —
    the generic sibling of `read_events_stream`, for tables without
    the events-specific timestamp handling; first user: the documents
    stream feeding `foreach_batch_postings`). Handles both layouts the
    same way events does: a table DIRECTORY streams directly; the
    driver's single-file layout streams the sf dir through a
    pathGlobFilter (FileStreamSource wants a directory)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).format("parquet").load(path)
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", f"{table}.parquet")
        .load(sf_dir)
    )


def run_to_memory(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive a bounded streaming query to completion into a memory
    sink; returns the result as a (batch) DataFrame.

    Stateful stages key their state-store count off shuffle partitions
    (AQE is off for streaming), so a vanilla session's 200 would mean
    200 state partitions per stage. The downsizing is scoped HERE —
    set before the query starts (state layout is fixed at start),
    restored after it terminates — so a shared session's batch queries
    never see the override.
    """
    spark = agg.sparkSession
    name = f"stream_out_{next(_QUERY_SEQ)}"
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    scoped = prev == "200"
    if scoped:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism, 8)),
        )
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if scoped:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str, window: str = "1 day") -> DataFrame:
    """D6+D7: watermarked tumbling-window counts per event_type."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: sliding window (1 day, slide 12h) event counts."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day", "12 hours"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(F.col("window.start").alias("win_start"), "n")


def session_windows(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """D7: per-user session windows with a 30-minute inactivity gap."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("session_window.start").alias("sess_start"),
        "user_id",
        "n_events",
    )


def stateful_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running profile (event count, value total, last-seen
    timestamp) maintained in explicit group state across microbatches.

    This is the sanctioned shape for operators Structured Streaming
    lacks natively (per-key accumulators, rate limiters, CEP-ish
    logic): Arrow batches in, explicit typed state, Arrow batches out —
    state lives in the state store (RocksDB at scale), partitioned by
    the grouping key, so it shards across executors like any keyed
    stream. On a bounded single-batch replay the flushed state equals
    the batch ``groupBy(user_id).agg(...)`` — which is the oracle.

    The timestamp is carried in state as integer microseconds: the
    state schema round-trips through Arrow per microbatch, and integer
    micros are immune to tz/precision coercion on that path.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir).select("user_id", "value", "ts")

    out_schema = (
        "user_id bigint, n_events bigint, total_value double, last_ts_us bigint"
    )
    state_schema = "n bigint, tot double, last_us bigint"

    def update_profile(key, pdfs, state: GroupState):
        n, tot, last_us = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].fillna(0.0).sum())
            # normalize to µs regardless of the batch's datetime64 unit
            ts_us = pdf["ts"].dropna().astype("datetime64[us]").astype("int64")
            if len(ts_us):
                batch_max = int(ts_us.max())
                last_us = batch_max if last_us is None else max(last_us, batch_max)
        state.update((n, tot, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [tot],
                "last_ts_us": [last_us],
            }
        )

    profiled = ev.groupBy("user_id").applyInPandasWithState(
        update_profile,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_to_memory(profiled, "update")
    # one microbatch per bounded replay → one row per user; convert the
    # state-carried micros back to a timestamp for the caller
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        F.expr("timestamp_micros(last_ts_us)").alias("last_ts"),
    )


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: stateful duplicate drop keyed on event_id within the
    watermark, then a per-type count — equals batch DISTINCT when the
    replay is bounded."""
    ev = read_events_stream(spark, sf_dir)
    # replay the source twice to create real duplicates in the stream
    doubled = ev.union(ev)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(agg, "complete")


def tws_user_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 on the MODERN arbitrary-state API (``transformWithStateInPandas``,
    Spark 4): per-user event count + value total + max single value kept
    in typed ValueState, emitted on every update. The successor to
    ``applyInPandasWithState`` — state variables are declared against a
    schema through the processor handle (``getValueState``), which is
    what RocksDB-backed state and state-schema evolution key off at
    scale. On a bounded single-batch replay the flushed state equals
    the batch groupBy — which is the oracle.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = read_events_stream(spark, sf_dir).select("user_id", "value")

    class UserValueStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n BIGINT, tot DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, tot, mx = (
                self._state.get() if self._state.exists() else (0, 0.0, None)
            )
            for pdf in rows:
                n += len(pdf)
                vals = pdf["value"].dropna()
                if len(vals):
                    tot += float(vals.sum())
                    batch_max = float(vals.max())
                    mx = batch_max if mx is None else max(mx, batch_max)
            self._state.update((n, tot, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [tot],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    out = ev.groupBy("user_id").transformWithStateInPandas(
        UserValueStats(),
        outputStructType="user_id bigint, n_events bigint, total_value double, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    res = run_to_memory(out, "update")
    return res.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        F.round("max_value", 2).alias("max_value"),
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 extension: stream-static join. The event stream is enriched
    with a static per-user dimension (activity tier from a batch
    aggregate — integer event counts, so the tier boundary is exact
    across engines), then aggregated per (tier, event_type).

    The static side is a batch DataFrame: Spark re-plans it into the
    stream as a stateless broadcast join (no watermark, no state
    store) — the canonical "enrich a firehose with a dimension table"
    shape. At scale the dimension would be a compacted table the
    stream picks up per micro-batch.
    """
    from etl_cortex_spark.sources.tables import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .select(
            "user_id",
            F.when(F.col("n_ev") >= 70, "high")
            .when(F.col("n_ev") >= 60, "mid")
            .otherwise("low")
            .alias("tier"),
        )
    )
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("tier", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return run_to_memory(agg, "complete")


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window_minutes: int = 10,
    how: str = "inner",
) -> DataFrame:
    """The shared click→purchase interval-join core: ``clicks`` must
    carry (user_id, click_id, click_ts) and ``purchases``
    (p_user_id, purchase_id, purchase_ts), both already watermarked.
    Emits (user_id, click_id, purchase_id, gap_us); under
    ``how="leftOuter"`` an unconverted click appears as a NULL row
    once the global watermark closes its state."""
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + interval {window_minutes} minutes
            """
        ),
        how,
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


def _attribution_sides(spark, sf_dir):
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks, purchases


def stream_stream_attribution(
    spark: SparkSession, sf_dir: str, window_minutes: int = 10
) -> DataFrame:
    """D8 extension: stream-stream interval join — click→purchase
    attribution. Two streams (derived from the same source; Spark
    reads it once per side), both watermarked, inner-joined on user
    with a time-bound condition: each purchase is attributed to every
    click by the same user in the preceding ``window_minutes``.

    The time bound + watermarks let Spark evict join state (a click
    older than watermark + window can never match again) — the thing
    that makes a stream-stream join runnable forever; an unbounded
    condition would grow state monotonically. Bounded replay makes
    the result exactly the batch interval join, so it is fully
    oracle-checkable.
    """
    clicks, purchases = _attribution_sides(spark, sf_dir)
    return run_to_memory(
        attribution_join(clicks, purchases, window_minutes, "inner"), "append"
    )


def stream_stream_attribution_outer(
    spark: SparkSession, sf_dir: str, window_minutes: int = 10
) -> DataFrame:
    """D8 extension: stream-stream LEFT OUTER interval join — the
    attribution join that also reports UNCONVERTED clicks (NULL
    purchase columns). The outer semantics are the interesting
    streaming part: an unmatched click can only be emitted once its
    join state is provably closed — when the purchase-side watermark
    has passed click_ts + window, no future purchase can satisfy the
    time bound — so NULL rows surface with watermark latency, not
    immediately (the fundamental outer-join-on-streams tradeoff).

    Clicks inside the final watermark tail stay in state when a
    bounded run drains, so the batch twin is the LEFT interval join
    with exactly that closure cut on the unmatched rows: emitted-NULL
    iff click_ts + window < global watermark, where the GLOBAL
    watermark is min over BOTH inputs of (that side's max event time,
    ms-truncated) − delay — Spark advances a multi-input watermark by
    its slowest input, so the purchase side's lag holds back click
    eviction too. Matched rows are identical to the inner join and
    carry no cut. (The micro-batch emission rule itself is pinned by
    tests/test_streaming_latedata.py on a controlled staggered feed.)
    """
    clicks, purchases = _attribution_sides(spark, sf_dir)
    return run_to_memory(
        attribution_join(clicks, purchases, window_minutes, "leftOuter"), "append"
    )


def stream_stream_attribution_full(
    spark: SparkSession, sf_dir: str, window_minutes: int = 10
) -> DataFrame:
    """D8 extension (round 11): stream-stream FULL OUTER interval join
    — both unconverted clicks AND orphan purchases (no preceding click
    in the window) surface as NULL rows. Closure is ASYMMETRIC, and
    that is the instructive part: an unmatched click needs the global
    watermark past ``click_ts + window`` (a future purchase inside the
    window could still match), while an unmatched purchase only needs
    it past ``purchase_ts`` — the condition ``purchase_ts >= click_ts``
    means no click arriving after the purchase's event time can ever
    match it, so its state closes a full window earlier. The batch
    twin applies exactly these two cuts to the FULL interval join's
    unmatched rows; matched rows equal the inner join. user_id is
    coalesced across sides (a NULL-click row carries only the
    purchase side's key)."""
    clicks, purchases = _attribution_sides(spark, sf_dir)
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            user_id = p_user_id AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + interval {window_minutes} minutes
            """
        ),
        "fullOuter",
    ).select(
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )
    out = run_to_memory(joined, "append")
    return out
