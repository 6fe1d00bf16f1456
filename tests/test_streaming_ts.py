"""Schema-drift regression tests for the streaming events reader.

The driver has generated ``events.parquet`` with TIMESTAMP(NANOS)
footers in some rounds and TIMESTAMP(MICROS) in others; round 3 broke
because ``read_events_stream`` assumed nanos unconditionally while the
batch path (``sources.tables.load_table``) gated the conversion on the
parquet footer. These tests write BOTH layouts and round-trip each
through the stream reader, so neither assumption can silently creep
back in.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from etl_cortex_spark.streaming.events import read_events_stream, run_to_memory

_TS = [
    dt.datetime(2024, 3, 1, 0, 0, 0),
    dt.datetime(2024, 3, 1, 0, 10, 30, 250000),
    dt.datetime(2024, 3, 1, 1, 0, 0, 123456),
    dt.datetime(2024, 3, 2, 12, 0, 0),
]


def _write_events(dirpath, unit: str) -> str:
    """Write a minimal events.parquet with ts at the given unit."""
    n = len(_TS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(_TS, pa.timestamp(unit)),
            "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            "event_type": pa.array(["click"] * n, pa.string()),
            "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    out = str(dirpath / "events.parquet")
    pq.write_table(table, out)
    return str(dirpath)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_stream_reader_handles_both_ts_units(spark, tmp_path, unit):
    (tmp_path / unit).mkdir(exist_ok=True)
    sf_dir = _write_events(tmp_path / unit, unit)

    ev = read_events_stream(spark, sf_dir)
    # the reader must always hand downstream a session-tz timestamp —
    # watermarks/windows/interval arithmetic all key off this type
    assert ev.schema["ts"].dataType.typeName() == "timestamp"

    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("max_ts"))
    )
    rows = {
        (r["win_start"], r["n"], r["max_ts"])
        for r in run_to_memory(agg, "complete")
        .select(F.col("window.start").alias("win_start"), "n", "max_ts")
        .collect()
    }
    assert rows == {
        (dt.datetime(2024, 3, 1), 3, dt.datetime(2024, 3, 1, 1, 0, 0, 123456)),
        (dt.datetime(2024, 3, 2), 1, dt.datetime(2024, 3, 2, 12, 0, 0)),
    }


def test_session_window_boundary_is_inclusive(spark, tmp_path):
    """An event exactly ``gap`` after the previous one MERGES into the
    session (measured on Spark 4.1; the boundary is inclusive, the
    same strict-``>`` island break as batch b16 and the
    stream_session_windows oracle). The driver data has no exact-1800s
    gaps, so this fixture is the only thing pinning the semantics."""
    from etl_cortex_spark.streaming.events import session_windows

    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    ts = [
        base,  # session 1
        base + dt.timedelta(minutes=29, seconds=59),  # still session 1
        base + dt.timedelta(minutes=59, seconds=59),  # exactly 30:00 later → merges
        base + dt.timedelta(hours=3),  # past the gap → session 2
    ]
    n = len(ts)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([7] * n, pa.int64()),
            "event_type": pa.array(["click"] * n, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    d = tmp_path / "boundary"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))

    got = sorted(
        (r["sess_start"], r["n_events"])
        for r in session_windows(spark, str(d)).collect()
    )
    assert got == [(ts[0], 3), (ts[3], 1)]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_batch_reader_handles_both_ts_units(spark, tmp_path, unit):
    """The batch footer gate (tables._nanos_ts_cols) under the same drift."""
    from etl_cortex_spark.sources.tables import load_table

    (tmp_path / unit).mkdir(exist_ok=True)
    sf_dir = _write_events(tmp_path / unit, unit)
    df = load_table(spark, sf_dir, "events")
    got = sorted(r["ts"] for r in df.select("ts").collect())
    assert got == sorted(_TS)


def test_stream_reader_handles_multifile_table_directory(spark, tmp_path):
    """Round-11 regression: when events.parquet is a DIRECTORY of part
    files (any real ingest layout, the bench relayout, the slope
    corpora), the stream must read every row — the old pathGlobFilter
    branch matched only a file literally named events.parquet, so
    multi-file layouts silently streamed ZERO rows."""
    table_dir = tmp_path / "events.parquet"
    table_dir.mkdir()
    n = len(_TS)
    for i in range(2):  # two part files, like a real write
        part = pa.table(
            {
                "event_id": pa.array(range(i * n, i * n + n), pa.int64()),
                "ts": pa.array(_TS, pa.timestamp("us")),
                "user_id": pa.array([1, 1, 2, 2], pa.int64()),
                "event_type": pa.array(["click"] * n, pa.string()),
                "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        )
        pq.write_table(part, str(table_dir / f"part-{i:02d}.parquet"))

    ev = read_events_stream(spark, str(tmp_path))
    out = run_to_memory(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), "complete"
    )
    assert {(r["event_type"], r["n"]) for r in out.collect()} == {("click", 2 * n)}


def test_wap_commit_batch_publish_discard_replay_conflict(spark, tmp_path):
    """Round-16 streaming WAP pins: (1) a good batch publishes — even
    the FIRST batch of an empty table (base_version 0); (2) a poisoned
    batch is discarded without trace (no head rows, no branch manifest,
    no orphan files); (3) a replay of a published batch is a ledger
    no-op before anything stages; (4) a replay of a discarded batch
    re-audits and re-discards; (5) a publish that loses the head race
    discards, restages against the new head and publishes."""
    import glob
    import os

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
    )
    from etl_cortex_spark.streaming.ingest import wap_commit_batch

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi, v: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), F.lit(float(v)).alias("val")
    )
    audit = lambda df: df.filter(F.col("val") < 0).isEmpty()  # noqa: E731

    # (1) first batch onto an EMPTY table
    assert wap_commit_batch(spark, mk(0, 10, 1.0), path, 0, audit) == "published"
    assert snapshot_read(spark, path).count() == 10

    # (2) poisoned batch: discarded without trace
    assert wap_commit_batch(spark, mk(10, 15, -5.0), path, 1, audit) == "discarded"
    assert snapshot_read(spark, path).count() == 10
    assert not glob.glob(os.path.join(path, "branch-*.manifest.json"))
    # exactly ONE wap dir remains: the PUBLISHED batch's (its files
    # are referenced by v1); the discarded batch's dir is gone
    assert len(glob.glob(os.path.join(path, "data", "wap-*"))) == 1

    # (3) replay of the PUBLISHED batch: no-op before staging
    assert wap_commit_batch(spark, mk(0, 10, 1.0), path, 0, audit) == "replayed"
    assert snapshot_read(spark, path).count() == 10

    # (4) replay of the DISCARDED batch: re-audits, re-discards
    assert wap_commit_batch(spark, mk(10, 15, -5.0), path, 1, audit) == "discarded"
    assert snapshot_read(spark, path).count() == 10

    # (5) publish conflict: a concurrent append lands between stage
    # and publish (hooked into the audit, which runs in that window)
    appended = {"done": False}

    def racing_audit(df):
        if not appended["done"]:
            appended["done"] = True
            snapshot_append(spark, mk(100, 103, 7.0), path)
        return df.filter(F.col("val") < 0).isEmpty()

    assert (
        wap_commit_batch(spark, mk(20, 25, 2.0), path, 2, racing_audit)
        == "published"
    )
    # both the concurrent append AND the WAP batch are at head
    assert snapshot_read(spark, path).count() == 10 + 3 + 5
    assert not glob.glob(os.path.join(path, "branch-*.manifest.json"))
    # two published wap dirs (batches 0 and 2); the conflict retry's
    # first staging was discarded
    assert len(glob.glob(os.path.join(path, "data", "wap-*"))) == 2


def test_wap_racing_replay_and_audit_exception(spark, tmp_path):
    """Round-16 review fixes: (1) a publish that loses the head race
    to a REPLAY OF THE SAME BATCH resolves to 'replayed' instead of
    publishing the batch twice (the zombie-driver overlap); (2) an
    exception thrown by the audit discards the staged branch before
    propagating — no branch manifest, no orphaned files."""
    import glob
    import os

    import pytest

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
    )
    from etl_cortex_spark.streaming.ingest import wap_commit_batch

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k")
    )
    assert (
        wap_commit_batch(
            spark, mk(0, 10), path, 0, lambda df: True
        )
        == "published"
    )

    # (1) zombie overlap: while THIS worker audits batch 5, the other
    # driver's replay of batch 5 commits (same batch_id) — the publish
    # conflict must resolve to a ledger no-op, not a second publish
    def racing_same_batch_audit(df):
        if not getattr(racing_same_batch_audit, "done", False):
            racing_same_batch_audit.done = True
            snapshot_append(spark, mk(10, 15), path, batch_id=5)
        return True

    assert (
        wap_commit_batch(spark, mk(10, 15), path, 5, racing_same_batch_audit)
        == "replayed"
    )
    assert snapshot_read(spark, path).count() == 15  # batch 5 once, not twice

    # (2) audit exception: staged branch discarded before propagating
    n_wap_dirs = len(glob.glob(os.path.join(path, "data", "wap-*")))

    def broken_audit(df):
        raise RuntimeError("audit infra failure")

    with pytest.raises(RuntimeError, match="audit infra failure"):
        wap_commit_batch(spark, mk(20, 25), path, 6, broken_audit)
    assert not glob.glob(os.path.join(path, "branch-*.manifest.json"))
    assert len(glob.glob(os.path.join(path, "data", "wap-*"))) == n_wap_dirs
    # the replay of the failed batch works normally
    assert (
        wap_commit_batch(spark, mk(20, 25), path, 6, lambda df: True)
        == "published"
    )
    assert snapshot_read(spark, path).count() == 20


def test_wap_commit_batch_empty_batch_short_circuits(spark, tmp_path):
    """Round-16 ADVICE #4: an EMPTY batch through the public
    wap_commit_batch returns 'discarded' instead of crashing in the
    audit's staged read (zero staged files -> parquet read with no
    paths); the table is untouched."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import snapshot_append, snapshot_read
    from etl_cortex_spark.streaming.ingest import wap_commit_batch

    path = str(tmp_path / "tbl")
    snapshot_append(
        spark, spark.range(5).withColumnRenamed("id", "k"), path
    )
    empty = spark.range(0).withColumnRenamed("id", "k")
    out = wap_commit_batch(
        spark, empty, path, batch_id=99, audit=lambda df: True
    )
    assert out == "discarded"
    assert snapshot_read(spark, path).count() == 5
    assert not glob.glob(os.path.join(path, "branch-*.manifest.json"))


def test_merge_mor_batch_id_replay_is_ledger_noop(spark, tmp_path):
    """Round-17 exactly-once for the streaming MOR upsert: a replayed
    snapshot_merge_mor with the same batch_id returns the original
    version without writing (no new manifest, no new rows), and the
    replay survives retention through the retired-batch ledger."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_expire,
        snapshot_merge_mor,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(
        spark,
        spark.range(10).select(F.col("id").alias("k"), F.lit("a").alias("s")),
        path,
    )
    batch = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit("b").alias("s")
    )
    v = snapshot_merge_mor(spark, batch, path, "k", batch_id=7)
    n_manifests = len(glob.glob(os.path.join(path, "v*.manifest.json")))
    assert snapshot_merge_mor(spark, batch, path, "k", batch_id=7) == v
    assert len(glob.glob(os.path.join(path, "v*.manifest.json"))) == n_manifests
    rows = {(r.k, r.s) for r in snapshot_read(spark, path).collect()}
    assert rows == {(k, "a") for k in range(5)} | {(k, "b") for k in range(5, 15)}
    # replay OLDER than retention: still a no-op via the ledger
    snapshot_append(
        spark,
        spark.range(20, 22).select(F.col("id").alias("k"), F.lit("c").alias("s")),
        path,
    )
    from etl_cortex_spark.operators.layout import snapshot_compact

    snapshot_compact(spark, path)
    snapshot_expire(spark, path, keep_last=1, orphan_grace_secs=0.0)
    assert snapshot_merge_mor(spark, batch, path, "k", batch_id=7) == v
    assert snapshot_read(spark, path).count() == 17


def test_unreadable_footer_is_logged(tmp_path, caplog):
    """A footer that does not parse converts no column, and the
    fallback leaves a warning naming the file and the exception."""
    import logging

    from etl_cortex_spark.sources.tables import _nanos_ts_cols

    bad = tmp_path / "events.parquet"
    bad.write_bytes(b"not a parquet file")
    with caplog.at_level(logging.WARNING, logger="etl_cortex_spark.sources.tables"):
        assert _nanos_ts_cols(str(bad)) == ()
    (rec,) = caplog.records
    assert str(bad) in rec.getMessage()
    assert "ArrowInvalid" in rec.getMessage()
