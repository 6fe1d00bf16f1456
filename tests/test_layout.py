"""Tests for operators/layout.py — Z-order write layout.

The point of Z-ordering is that every output file covers a tight
bounding box in BOTH clustered dimensions, which is exactly what
parquet min/max stats need to skip files/row-groups for predicates
on either column. The test measures that property directly.
"""

from __future__ import annotations

import pytest
import glob

import pandas as pd

from etl_cortex_spark.operators.layout import write_zordered

SF = "/root/testdata/sf0.001"
XR = (0.0, 200000.0)
YR = (0.0, 600000.0)


def _file_boxes(path):
    """Per output file: (x_span_frac, y_span_frac) of the global span."""
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    frames = [pd.read_parquet(f, columns=["o_custkey", "o_totalprice"]) for f in files]
    full = pd.concat(frames)
    gx = full.o_custkey.max() - full.o_custkey.min()
    gy = full.o_totalprice.max() - full.o_totalprice.min()
    boxes = []
    for df in frames:
        if len(df) == 0:
            continue
        boxes.append(
            (
                (df.o_custkey.max() - df.o_custkey.min()) / gx,
                (df.o_totalprice.max() - df.o_totalprice.min()) / gy,
            )
        )
    return boxes


def test_zorder_files_are_tight_in_both_dims(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")

    zpath = str(tmp_path / "zorder")
    write_zordered(
        orders, zpath, "o_custkey", "o_totalprice",
        x_range=XR, y_range=YR, n_files=8,
    )
    naive_path = str(tmp_path / "naive")
    orders.repartition(8).write.mode("overwrite").parquet(naive_path)

    z_area = [bx * by for bx, by in _file_boxes(zpath)]
    n_area = [bx * by for bx, by in _file_boxes(naive_path)]
    z_avg = sum(z_area) / len(z_area)
    n_avg = sum(n_area) / len(n_area)
    # naive hash layout: every file spans ~the full rectangle (area ~1);
    # 8 z-range files each cover ~1/8 of the curve.
    assert n_avg > 0.8, f"naive baseline unexpectedly clustered: {n_avg}"
    assert z_avg < 0.45 * n_avg, f"z-order not clustering: {z_avg} vs naive {n_avg}"


def test_zorder_write_preserves_rows(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    path = str(tmp_path / "z2")
    write_zordered(
        orders, path, "o_custkey", "o_totalprice",
        x_range=XR, y_range=YR, n_files=4,
    )
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    a = {r.o_orderkey for r in orders.select("o_orderkey").collect()}
    b = {r.o_orderkey for r in back.select("o_orderkey").collect()}
    assert a == b


def test_compaction_reduces_file_count_losslessly(spark, tmp_path):
    from etl_cortex_spark.operators.layout import compact_parquet

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    frag = str(tmp_path / "fragmented")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    n_small = len(glob.glob(f"{frag}/part-*.parquet"))
    assert n_small == 64

    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, out, target_file_mb=128)
    n_big = len(glob.glob(f"{out}/part-*.parquet"))
    assert n == 1 and n_big == 1  # tiny table → one right-sized file
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    a = {r.o_orderkey for r in orders.select("o_orderkey").collect()}
    b = {r.o_orderkey for r in back.select("o_orderkey").collect()}
    assert a == b


def test_compaction_with_sort_keeps_ranges_tight(spark, tmp_path):
    from etl_cortex_spark.operators.layout import compact_parquet

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    frag = str(tmp_path / "frag2")
    orders.repartition(32).write.mode("overwrite").parquet(frag)
    out = str(tmp_path / "sorted")
    # force several output files via a tiny target size
    n = compact_parquet(spark, frag, out, target_file_mb=1, sort_cols=["o_orderkey"])
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == n >= 1
    # range-partitioned + sorted: per-file key ranges must not overlap
    ranges = []
    for f in files:
        pdf = pd.read_parquet(f, columns=["o_orderkey"])
        if len(pdf):
            ranges.append((pdf.o_orderkey.min(), pdf.o_orderkey.max()))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} vs {(lo2, hi2)}"


def test_file_skipping_prunes_to_overlapping_files(spark, tmp_path):
    """Zone-map skipping: over a range-sorted 8-file layout, a narrow
    key range must read only the overlapping file(s) — proven from the
    executed scan's numFiles metric — and return exactly the rows the
    full-scan filter returns. A range outside the domain reads nothing
    and yields an empty frame with the table's schema."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import file_stats, skipping_scan

    path = str(tmp_path / "skip")
    df = spark.range(0, 80000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartitionByRange(8, "k").sortWithinPartitions("k").write.parquet(path)

    stats = file_stats(spark, path, "k").collect()
    assert len(stats) == 8
    # range-sorted layout → per-file ranges are disjoint
    spans = sorted((r["lo"], r["hi"]) for r in stats)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(7))

    pruned = skipping_scan(spark, path, "k", 20000, 20500)
    rows = sorted((r["k"], r["v"]) for r in pruned.collect())
    want = sorted(
        (r["k"], r["v"])
        for r in spark.read.parquet(path).filter("k between 20000 and 20500").collect()
    )
    assert rows == want and len(rows) == 501

    n_files = _scan_files(pruned)
    n_overlap = sum(1 for lo, hi in spans if hi >= 20000 and lo <= 20500)
    assert n_files == n_overlap < 8

    empty = skipping_scan(spark, path, "k", 10**9, 2 * 10**9)
    assert empty.count() == 0
    assert empty.schema == spark.read.parquet(path).schema


def _scan_files(df) -> int:
    """numFiles from the executed plan's parquet scan leaf."""
    df.write.format("noop").mode("overwrite").save()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Scan" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numFiles":
                    return kv._2().value()
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        if "QueryStage" in name:
            stack.append(node.plan())
    raise AssertionError("no scan with numFiles found")


def test_delta_append_failure_never_leaves_partial_table(spark):
    """bucketed_fact_with_delta's two writes are not atomic (round-9
    ADVICE): if the delta append dies after the base saveAsTable
    succeeded, the name must NOT stay registered base-only — the
    failing call drops the partial table and serves the plain
    base ∪ delta fallback, and the NEXT call rebuilds the full
    maintained layout from scratch."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        bucketed_fact_name,
        bucketed_fact_with_delta,
    )
    from etl_cortex_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    cols = ["l_orderkey", "l_quantity"]
    name = bucketed_fact_name(sf, "lineitemincr", "l_orderkey", cols, 4)
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    calls = {"n": 0}

    def flaky_delta(b):
        calls["n"] += 1
        if calls["n"] == 1:  # fails exactly once — AFTER the base write
            raise RuntimeError("simulated delta-batch failure")
        return b.filter(F.col("l_orderkey") % 19 == 3)

    out = bucketed_fact_with_delta(
        spark, sf, "lineitem", "l_orderkey", flaky_delta, cols, 4
    )
    base = load_table(spark, sf, "lineitem").select(*cols)
    expected = base.count() + base.filter(F.col("l_orderkey") % 19 == 3).count()
    assert out.count() == expected  # fallback serves the right rows...
    assert not spark.catalog.tableExists(name)  # ...and no partial table

    out2 = bucketed_fact_with_delta(
        spark, sf, "lineitem", "l_orderkey", flaky_delta, cols, 4
    )
    assert spark.catalog.tableExists(name)  # rebuilt clean on retry
    assert out2.count() == expected
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_layout_fallback_is_logged(spark, monkeypatch, caplog):
    """A failed layout write still serves the plain plan, and the
    fallback leaves a warning naming the table and the exception."""
    import logging

    from etl_cortex_spark.operators.layout import conformed_dim

    def boom(name, *a, **k):
        raise RuntimeError("catalog unavailable")

    monkeypatch.setattr(spark.catalog, "tableExists", boom)
    with caplog.at_level(logging.WARNING, logger="etl_cortex_spark.operators.layout"):
        out = conformed_dim(spark, "probe", lambda: spark.range(3), "sig")
    assert out.columns == ["id"]
    (rec,) = caplog.records
    assert "dimf_probe_" in rec.getMessage()
    assert "catalog unavailable" in rec.getMessage()


# --- manifest snapshots / time travel (round 13) --------------------------------


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    """A reader pinned to version N sees EXACTLY version N's rows
    forever: appends after the manifest resolve change nothing, every
    historical version stays queryable, and the latest-version default
    tracks the head."""
    import pytest

    from etl_cortex_spark.operators.layout import snapshot_append, snapshot_read

    path = str(tmp_path / "snap")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 25).withColumnRenamed("id", "k")
    assert snapshot_append(spark, df1, path) == 1
    pinned = snapshot_read(spark, path, version=1)
    assert snapshot_append(spark, df2, path) == 2
    # the pinned reader (resolved before commit 2) still sees only v1
    assert pinned.count() == 10
    assert snapshot_read(spark, path, version=1).count() == 10
    assert snapshot_read(spark, path, version=2).count() == 25
    assert snapshot_read(spark, path).count() == 25  # latest
    assert sorted(
        r.k for r in snapshot_read(spark, path, version=2).collect()
    ) == list(range(25))
    with pytest.raises(ValueError, match="version 7 does not exist"):
        snapshot_read(spark, path, version=7)
    with pytest.raises(ValueError, match="no manifests"):
        snapshot_read(spark, str(tmp_path / "empty"))


def test_snapshot_cow_delete_rewrites_only_affected_files(spark, tmp_path):
    """The COW contract: a delete whose matches live only in batch 1
    rewrites batch-1 files and carries batch-2 files BY REFERENCE (the
    same paths appear in the new manifest); prior versions still serve
    the deleted rows; deleting nothing carries every file by
    reference."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete,
        snapshot_read,
    )

    path = str(tmp_path / "cow")
    b1 = spark.range(0, 100).withColumnRenamed("id", "k")
    b2 = spark.range(1000, 1100).withColumnRenamed("id", "k")
    snapshot_append(spark, b1, path)
    snapshot_append(spark, b2, path)

    from etl_cortex_spark.operators.layout import snapshot_meta

    def manifest(v):
        return set(snapshot_meta(path, v)["files"])

    m2 = manifest(2)
    b2_files = {f for f in m2 if spark.read.parquet(f).filter("k >= 1000").count() > 0}
    assert b2_files
    v3 = snapshot_delete(spark, path, F.col("k") < 50)
    assert v3 == 3
    m3 = manifest(3)
    # batch-2 files carried by reference, affected batch-1 files gone
    assert b2_files <= m3
    assert snapshot_read(spark, path, version=3).count() == 150
    assert snapshot_read(spark, path, version=2).count() == 200  # audit trail
    assert sorted(
        r.k for r in snapshot_read(spark, path, version=3).collect()
    ) == list(range(50, 100)) + list(range(1000, 1100))
    # no-op delete: every file carried by reference
    v4 = snapshot_delete(spark, path, F.col("k") < -1)
    assert manifest(4) == m3 and v4 == 4


def test_snapshot_append_batch_id_replay_is_noop(spark, tmp_path):
    """The streaming exactly-once contract: re-committing a batch_id
    already in the manifest log returns the SAME version and writes
    nothing; a new batch_id commits normally."""
    import glob
    import os

    from etl_cortex_spark.operators.layout import snapshot_append, snapshot_read

    path = str(tmp_path / "snapbid")
    df = spark.range(0, 7).withColumnRenamed("id", "k")
    v1 = snapshot_append(spark, df, path, batch_id=0)
    n_manifests = len(glob.glob(os.path.join(path, "v*.manifest.json")))
    assert (v1, n_manifests) == (1, 1)
    # replay: same batch_id -> same version, no new manifest, no new rows
    assert snapshot_append(spark, df, path, batch_id=0) == 1
    assert len(glob.glob(os.path.join(path, "v*.manifest.json"))) == 1
    assert snapshot_read(spark, path).count() == 7
    assert snapshot_append(spark, df, path, batch_id=1) == 2
    assert snapshot_read(spark, path).count() == 14


def test_snapshot_scan_prunes_from_manifest_stats(spark, tmp_path):
    """The manifest zone map prunes: a range covered by ONE of three
    key-range batches reads only that batch's files (inputFiles()),
    values are exact, an empty overlap returns an empty frame with the
    table schema, and stats survive manifest chaining."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
        snapshot_scan,
    )

    path = str(tmp_path / "snapstats")
    for lo in (0, 100, 200):
        b = (
            spark.range(lo, lo + 100)
            .withColumnRenamed("id", "k")
            .coalesce(2)
        )
        snapshot_append(spark, b, path, stats_col="k")
    total_files = len(snapshot_read(spark, path).inputFiles())
    pruned = snapshot_scan(spark, path, "k", 120, 180)
    assert len(pruned.inputFiles()) < total_files
    assert sorted(r.k for r in pruned.collect()) == list(range(120, 181))
    empty = snapshot_scan(spark, path, "k", 900, 950)
    assert empty.count() == 0 and empty.columns == ["k"]


def test_snapshot_compact_preserves_rows_and_history(spark, tmp_path):
    """Compaction is just another commit: identical rows in fewer
    files at the new version, prior versions untouched (their file
    sets still resolve), and manifest stats re-derived so pruning
    still works post-compaction."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_read,
        snapshot_scan,
    )

    path = str(tmp_path / "snapcompact")
    for lo in (0, 50, 100):
        snapshot_append(
            spark,
            spark.range(lo, lo + 50).withColumnRenamed("id", "k").coalesce(3),
            path,
            stats_col="k",
        )
    before_files = len(snapshot_read(spark, path).inputFiles())
    v = snapshot_compact(spark, path, stats_col="k", target_files=1)
    assert v == 4
    after = snapshot_read(spark, path)
    assert len(after.inputFiles()) < before_files
    assert sorted(r.k for r in after.collect()) == list(range(150))
    # history intact: version 2 still serves exactly batches 1+2
    assert snapshot_read(spark, path, version=2).count() == 100
    # pruning still works on the compacted manifest (single-file table:
    # the zone map exists and the scan returns the exact range)
    pr = snapshot_scan(spark, path, "k", 60, 80)
    assert sorted(r.k for r in pr.collect()) == list(range(60, 81))


def test_snapshot_versions_past_ten_resolve_numerically(spark, tmp_path):
    """Regression for the lexicographic-manifest-sort bug: 'v10' sorts
    before 'v9' as a string, so a string-sorted latest-manifest resolve
    makes commit 11 re-derive version 10 and overwrite it (silent data
    loss). Drive the table to 12 versions: every commit must get a
    fresh version number, the head must accumulate every batch, and
    each historical version must still serve its exact prefix."""
    from etl_cortex_spark.operators.layout import snapshot_append, snapshot_read

    path = str(tmp_path / "snapdeep")
    for i in range(12):
        v = snapshot_append(
            spark,
            spark.range(i * 5, i * 5 + 5).withColumnRenamed("id", "k"),
            path,
        )
        assert v == i + 1
    assert snapshot_read(spark, path).count() == 60  # latest = all 12 batches
    for version, expect in ((1, 5), (9, 45), (10, 50), (11, 55), (12, 60)):
        got = snapshot_read(spark, path, version=version)
        assert sorted(r.k for r in got.collect()) == list(range(expect))


def test_snapshot_commit_collision_fails_loudly(spark, tmp_path):
    """A writer that computes an already-committed version number must
    FAIL, never silently replace the manifest (the exclusive-create
    commit contract)."""
    import pytest

    from etl_cortex_spark.operators.layout import (
        _commit_manifest,
        snapshot_append,
        snapshot_read,
    )

    path = str(tmp_path / "snapdup")
    df = spark.range(0, 9).withColumnRenamed("id", "k")
    assert snapshot_append(spark, df, path) == 1
    files_before = snapshot_read(spark, path, version=1).inputFiles()
    with pytest.raises(ValueError, match="version 1 already exists"):
        _commit_manifest(path, 1, {"version": 1, "files": []})
    # the committed manifest is untouched by the failed commit
    assert snapshot_read(spark, path, version=1).inputFiles() == files_before


def test_snapshot_delete_keeps_null_predicate_rows(spark, tmp_path):
    """DELETE three-valued logic: rows where the predicate is NULL
    (e.g. ``v = 5`` over a NULL v) are NOT matched and must survive
    the COW rewrite — only predicate-TRUE rows disappear."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete,
        snapshot_read,
    )

    path = str(tmp_path / "snapnull")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7), (4, 5), (5, None)], "k int, v int"
    )
    snapshot_append(spark, df, path)
    v2 = snapshot_delete(spark, path, F.col("v") == 5)
    assert v2 == 2
    survivors = snapshot_read(spark, path, version=2)
    assert sorted(r.k for r in survivors.collect()) == [2, 3, 5]
    # the NULL rows really carried their NULLs through the rewrite
    assert survivors.filter(F.col("v").isNull()).count() == 2


def test_snapshot_merge_upserts_with_cow(spark, tmp_path):
    """MERGE contract: matched keys are replaced, new keys insert, and
    the COW cost shape holds — files with no matched key are carried
    into the new manifest BY REFERENCE while the pre-merge version
    still serves the old rows."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_merge,
        snapshot_read,
    )

    path = str(tmp_path / "snapmerge")
    b1 = spark.createDataFrame(
        [(k, "old") for k in range(100)], "k int, v string"
    ).repartition(3)
    b2 = spark.createDataFrame(
        [(k, "old") for k in range(100, 200)], "k int, v string"
    ).repartition(3)
    snapshot_append(spark, b1, path)
    snapshot_append(spark, b2, path)
    b2_files = set(snapshot_read(spark, path, version=2).inputFiles()) - set(
        snapshot_read(spark, path, version=1).inputFiles()
    )
    # updates hit only batch-1 keys (10..19); inserts are 500..504
    batch = spark.createDataFrame(
        [(k, "new") for k in range(10, 20)]
        + [(k, "ins") for k in range(500, 505)],
        "k int, v string",
    )
    v3 = snapshot_merge(spark, batch, path, "k")
    assert v3 == 3
    after = snapshot_read(spark, path, version=3)
    got = {r.k: r.v for r in after.collect()}
    assert len(got) == 205  # 200 - 10 replaced + 10 updates + 5 inserts
    assert all(got[k] == "new" for k in range(10, 20))
    assert all(got[k] == "ins" for k in range(500, 505))
    assert all(got[k] == "old" for k in range(200) if not 10 <= k < 20)
    # COW: batch-2's files (no matched keys) carried by reference
    assert b2_files <= set(after.inputFiles())
    # pinned reader: pre-merge version unchanged
    before = {r.k: r.v for r in snapshot_read(spark, path, version=2).collect()}
    assert all(before[k] == "old" for k in range(200))


def test_snapshot_merge_null_key_inserts(spark, tmp_path):
    """A NULL-keyed source row never equi-matches anything — it must
    INSERT, and no existing row may be clobbered by it."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_merge,
        snapshot_read,
    )

    path = str(tmp_path / "snapmergenull")
    snapshot_append(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        path,
    )
    batch = spark.createDataFrame([(None, "nul"), (2, "B")], "k int, v string")
    snapshot_merge(spark, batch, path, "k")
    rows = {
        (r.k, r.v) for r in snapshot_read(spark, path).collect()
    }
    assert rows == {(1, "a"), (2, "B"), (None, "nul")}


def test_snapshot_scan_multi_prunes_on_both_predicates(spark, tmp_path):
    """Two-column manifest stats prune CONJUNCTIVELY: a (k, d) range
    query keeps only the files whose zone maps overlap on BOTH columns
    — strictly fewer files than either single-column pruning — and the
    values still match the exact predicate."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
        snapshot_scan_multi,
    )

    path = str(tmp_path / "snapmulti")
    for k_lo, d_lo in ((0, 0), (0, 10), (100, 0), (100, 10)):
        batch = (
            spark.range(k_lo, k_lo + 100)
            .withColumnRenamed("id", "k")
            .withColumn("d", F.lit(d_lo) + (F.col("k") % 10))
        )
        snapshot_append(spark, batch, path, stats_col=["k", "d"])
    v1_files = set(snapshot_read(spark, path, version=1).inputFiles())
    all_files = set(snapshot_read(spark, path).inputFiles())
    pruned = snapshot_scan_multi(spark, path, {"k": (0, 99), "d": (0, 9)})
    # only batch 1 overlaps on BOTH columns
    assert set(pruned.inputFiles()) == v1_files
    assert len(v1_files) < len(all_files)
    assert pruned.count() == 100
    # a k-only range would keep batches 1+2 — the conjunction is what
    # pruned batch 2 (k overlaps, d disjoint)
    k_only = snapshot_scan_multi(spark, path, {"k": (0, 99)})
    assert len(set(k_only.inputFiles())) > len(v1_files)
    # empty overlap: schema-stable empty frame
    empty = snapshot_scan_multi(spark, path, {"k": (0, 99), "d": (50, 60)})
    assert empty.count() == 0
    assert empty.columns == ["k", "d"]


def test_stream_postings_multibatch_exactly_once_and_pruned(spark, tmp_path):
    """The streaming postings composition end-to-end with FORCED
    multi-batch cuts (maxFilesPerTrigger=1): (1) the drained index
    answers exactly like the batch-built one — micro-batch boundaries
    are invisible; (2) a re-run over the same checkpoint commits
    nothing new, and a manually replayed batch_id is a manifest-lookup
    no-op (exactly-once); (3) the lookup reads only bucket-overlapping
    files from the manifest (pruned serving)."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import _manifests, snapshot_append
    from etl_cortex_spark.operators.search import (
        postings_lookup,
        snapshot_postings_lookup,
        write_postings_index,
    )
    from etl_cortex_spark.streaming.ingest import foreach_batch_postings

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} " + ("join table " * (i % 3)))
         for i in range(60)],
        "doc_id int, text string",
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)
    idx = str(tmp_path / "postidx")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
        )
        q = foreach_batch_postings(stream, idx, ckpt)
        q.awaitTermination()

    run_stream()
    versions = _manifests(idx)
    assert len(versions) >= 2  # genuinely multi-batch
    terms = ["join", "table", "alpha"]
    got = {
        (r.doc_id, r.n_matched, r.total_tf)
        for r in snapshot_postings_lookup(spark, idx, terms, k=60).collect()
    }
    batch_idx = str(tmp_path / "batchidx")
    write_postings_index(docs, batch_idx)
    want = {
        (r.doc_id, r.n_matched, r.total_tf)
        for r in postings_lookup(spark, batch_idx, terms, k=60).collect()
    }
    assert got == want
    # exactly-once leg 1: a re-run over the same checkpoint is a no-op
    run_stream()
    assert _manifests(idx) == versions
    # exactly-once leg 2: a crash-replayed micro-batch (same batch_id)
    # returns its committed version without writing
    import json

    from etl_cortex_spark.operators.layout import _load_meta

    v0 = _load_meta(idx, versions[0])
    dummy = docs.limit(5).select(
        "doc_id", F.lit(1).alias("dl"), F.lit("x").alias("term"),
        F.lit(1).alias("tf"), F.lit(0).alias("__bucket"),
    )
    assert (
        snapshot_append(spark, dummy, idx, batch_id=v0["batch_id"])
        == v0["version"]
    )
    assert _manifests(idx) == versions
    # pruned serving: the lookup reads a strict subset of the files
    all_files = _load_meta(idx, _manifests(idx)[-1])["files"]
    read_files = snapshot_postings_lookup(spark, idx, ["join"], k=10).inputFiles()
    assert 0 < len(read_files) < len(all_files)


def test_stream_ivf_multibatch_exactly_once_and_pruned(spark, tmp_path):
    """The streaming IVF composition with forced multi-batch cuts:
    the drained snapshot index answers the cell query exactly like a
    batch-built IVF table; re-running the drained stream commits
    nothing; the query reads only bucket-covering files."""
    import json
    import random

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import _manifests
    from etl_cortex_spark.operators.similarity import (
        lsh_topk_ivf,
        snapshot_ivf_topk,
        write_ivf_index,
    )
    from etl_cortex_spark.streaming.ingest import foreach_batch_ivf

    rng = random.Random(11)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path / "vec_src")
    vecs.repartition(3).write.parquet(src)
    idx = str(tmp_path / "ivfidx")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
        )
        q = foreach_batch_ivf(stream, idx, ckpt)
        q.awaitTermination()

    run_stream()
    versions = _manifests(idx)
    assert len(versions) >= 2
    # query with a corpus vector so its cell is provably non-empty
    qv = [float(x) for x in vecs.filter("vec_id = 5").first().embedding]
    got = [
        (r.vec_id, r.cosine)
        for r in snapshot_ivf_topk(spark, idx, qv, k=10).collect()
    ]
    batch_idx = str(tmp_path / "batchivf")
    write_ivf_index(vecs, batch_idx)
    want = [
        (r.vec_id, r.cosine)
        for r in lsh_topk_ivf(spark, batch_idx, qv, k=10).collect()
    ]
    assert got == want and got  # same cell, same ranking, non-empty
    run_stream()  # replay: drained checkpoint commits nothing
    assert _manifests(idx) == versions
    from etl_cortex_spark.operators.layout import _load_meta

    all_files = _load_meta(idx, versions[-1])["files"]
    read_files = snapshot_ivf_topk(spark, idx, qv, k=10).inputFiles()
    assert 0 < len(read_files) < len(all_files)


def test_snapshot_changes_appends_only_and_raises_on_rewrite(spark, tmp_path):
    """Changes(v1→v3) delivers exactly batches 2+3 (never re-delivers
    batch 1); a rewriting commit (COW delete) in the range makes the
    added-files read WRONG by construction, so the walk must raise."""
    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_changes,
        snapshot_delete,
    )

    path = str(tmp_path / "snapchanges")
    for lo in (0, 10, 20):
        snapshot_append(
            spark, spark.range(lo, lo + 10).withColumnRenamed("id", "k"), path
        )
    got = sorted(r.k for r in snapshot_changes(spark, path, 1, 3).collect())
    assert got == list(range(10, 30))
    # empty delta: same version twice apart → v2..v2 only
    assert sorted(
        r.k for r in snapshot_changes(spark, path, 1, 2).collect()
    ) == list(range(10, 20))
    snapshot_delete(spark, path, F.col("k") < 5)  # v4 rewrites batch 1
    with pytest.raises(ValueError, match="not an append"):
        snapshot_changes(spark, path, 1, 4)
    # ranges entirely before the rewrite still work
    assert snapshot_changes(spark, path, 2, 3).count() == 10


def test_snapshot_rollback_restores_head_keeps_history(spark, tmp_path):
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
        snapshot_rollback,
    )

    path = str(tmp_path / "snaprollback")
    snapshot_append(spark, spark.range(0, 10).withColumnRenamed("id", "k"), path)
    snapshot_append(spark, spark.range(10, 30).withColumnRenamed("id", "k"), path)
    v3 = snapshot_rollback(spark, path, to_version=1)
    assert v3 == 3
    assert sorted(r.k for r in snapshot_read(spark, path).collect()) == list(
        range(10)
    )
    # the rolled-back-over commit is still queryable history
    assert snapshot_read(spark, path, version=2).count() == 30
    # rollback of a rollback: forward again
    snapshot_rollback(spark, path, to_version=2)
    assert snapshot_read(spark, path).count() == 30


def test_snapshot_expire_vacuums_only_dead_files(spark, tmp_path):
    """Expiry drops old manifests then deletes ONLY files no surviving
    manifest references: the head's content is untouched, expired
    versions fail loudly at resolve, and files shared by live
    manifests survive even when dead manifests also referenced them."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete,
        snapshot_expire,
        snapshot_read,
    )

    path = str(tmp_path / "snapexpire")
    snapshot_append(spark, spark.range(0, 50).withColumnRenamed("id", "k"), path)
    snapshot_append(spark, spark.range(50, 99).withColumnRenamed("id", "k"), path)
    snapshot_delete(spark, path, F.col("k") < 25)  # v3 rewrites batch 1
    files_before = set(glob.glob(os.path.join(path, "data", "*", "*.parquet")))
    res = snapshot_expire(spark, path, keep_last=1)
    assert res["manifests_removed"] == 2
    # batch 1's original files were only referenced by v1/v2 → deleted;
    # batch 2's files are shared with the live v3 → kept
    assert res["files_deleted"] > 0
    files_after = set(glob.glob(os.path.join(path, "data", "*", "*.parquet")))
    assert files_after < files_before
    assert sorted(r.k for r in snapshot_read(spark, path).collect()) == list(
        range(25, 99)
    )
    with pytest.raises(ValueError, match="version 1 does not exist"):
        snapshot_read(spark, path, version=1)
    # re-vacuum is a no-op
    res2 = snapshot_expire(spark, path, keep_last=1)
    assert res2 == {
        "manifests_removed": 0,
        "files_deleted": 0,
        "orphans_deleted": 0,
    }
    with pytest.raises(ValueError, match="keep_last"):
        snapshot_expire(spark, path, keep_last=0)


def test_snapshot_asof_timestamp_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: every write path stamps its commit; resolving
    an instant between commits returns the version current THEN —
    including across a delete and a rollback — and an instant before
    the first commit fails loudly."""
    import json
    import time

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_delete,
        snapshot_read,
        snapshot_rollback,
        snapshot_version_asof,
    )

    path = str(tmp_path / "snapasof")
    t_pre = time.time()
    instants = []
    snapshot_append(spark, spark.range(0, 9).withColumnRenamed("id", "k"), path)
    instants.append(time.time())
    snapshot_append(spark, spark.range(9, 20).withColumnRenamed("id", "k"), path)
    instants.append(time.time())
    snapshot_delete(spark, path, F.col("k") < 3)
    instants.append(time.time())
    snapshot_rollback(spark, path, to_version=2)
    instants.append(time.time())
    # every commit path stamped its manifest
    for m in _manifests(path):
        with open(m) as f:
            assert json.load(f)["committed_at_unix"] > 0
    for want, ts in enumerate(instants, start=1):
        assert snapshot_version_asof(path, ts) == want
    # the resolved version reads the state current at that instant
    v = snapshot_version_asof(path, instants[2])
    assert snapshot_read(spark, path, version=v).count() == 17  # post-delete
    with pytest.raises(ValueError, match="no version at or before"):
        snapshot_version_asof(path, t_pre)


def test_snapshot_schema_evolution_read(spark, tmp_path):
    """Additive evolution: a post-evolution commit adds a column; the
    merge_schema read surfaces NULL for pre-evolution rows, the
    default read keeps working, and old files stay byte-identical
    (evolution never rewrites history)."""
    import glob
    import os

    from etl_cortex_spark.operators.layout import snapshot_append, snapshot_read

    path = str(tmp_path / "snapevolve")
    snapshot_append(
        spark, spark.createDataFrame([(1,), (2,)], "k int"), path
    )
    files_v1 = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, "data", "*", "*.parquet"))
    }
    snapshot_append(
        spark, spark.createDataFrame([(3, "x")], "k int, tag string"), path
    )
    got = {
        (r.k, r.tag)
        for r in snapshot_read(spark, path, merge_schema=True).collect()
    }
    assert got == {(1, None), (2, None), (3, "x")}
    # old files untouched by the evolution
    for f, mtime in files_v1.items():
        assert os.path.getmtime(f) == mtime


def test_snapshot_append_optimistic_concurrency(spark, tmp_path):
    """REAL concurrent writers: six appends racing from three threads
    must ALL commit (rebase-and-retry on a lost race), producing six
    distinct consecutive versions whose head contains every batch's
    rows exactly once."""
    import threading

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_read,
    )

    path = str(tmp_path / "snapconc")
    errors = []

    def writer(lo):
        try:
            for start in (lo, lo + 1000):
                snapshot_append(
                    spark,
                    spark.range(start, start + 100).withColumnRenamed("id", "k"),
                    path,
                )
        except Exception as e:  # surface thread failures in the assert
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(lo,)) for lo in (0, 200, 400)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert [
        __import__("os").path.basename(m) for m in _manifests(path)
    ] == [f"v{v}.manifest.json" for v in range(1, 7)]
    got = sorted(r.k for r in snapshot_read(spark, path).collect())
    want = sorted(
        k
        for lo in (0, 200, 400)
        for start in (lo, lo + 1000)
        for k in range(start, start + 100)
    )
    assert got == want


def test_snapshot_delete_keeps_zone_maps_of_untouched_files(spark, tmp_path):
    """Pruning must survive a delete: files the COW rewrite didn't
    touch keep their manifest zone maps, so a post-delete range scan
    still prunes to the overlapping untouched files."""
    import json

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_delete,
        snapshot_scan,
    )

    path = str(tmp_path / "snapdelstats")
    for lo in (0, 1000, 2000):
        snapshot_append(
            spark,
            spark.range(lo, lo + 1000).withColumnRenamed("id", "k"),
            path,
            stats_col="k",
        )
    snapshot_delete(spark, path, F.col("k") < 100)  # touches batch 1 only
    from etl_cortex_spark.operators.layout import snapshot_meta

    meta = snapshot_meta(path)
    # batch 2+3 files kept their stats entries
    assert meta.get("stats"), "delete dropped all zone maps"
    pruned = snapshot_scan(spark, path, "k", 2100, 2200)
    assert sorted(r.k for r in pruned.collect()) == list(range(2100, 2201))
    # the scan read strictly fewer files than the table holds (batch 3
    # zone map survived the delete and pruned batches 2 + the rewrite)
    assert 0 < len(pruned.inputFiles()) < len(meta["files"])


@pytest.mark.slow
def test_snapshot_bloom_lookup_prunes_and_never_misses(spark, tmp_path):
    """Manifest Blooms: every committed key is findable (no false
    negatives over a 300-key sweep), the point probe reads strictly
    fewer files than the table holds (the modular batches have no
    range locality, so zone maps couldn't have pruned), and an absent
    key returns empty — usually from ZERO files read."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_point_lookup,
        snapshot_read,
    )

    path = str(tmp_path / "snapbloom")
    for third in (0, 1, 2):
        batch = (
            spark.range(0, 900)
            .withColumnRenamed("id", "k")
            .filter(f"k % 3 = {third}")
            .repartition(2)
        )
        snapshot_append(spark, batch, path, bloom_col="k")
    n_all = len(snapshot_read(spark, path).inputFiles())
    assert n_all >= 6
    # no false negatives: every key of a 300-key sweep is found
    for key in range(0, 900, 3):
        out = snapshot_point_lookup(spark, path, "k", key)
        files = out.inputFiles()
        assert len(files) < n_all, f"no pruning for key {key}"
        if key % 90 == 0:  # execute a sample of them fully
            assert [r.k for r in out.collect()] == [key]
    # absent key: empty result (Bloom may pass a false-positive file,
    # but the exact filter clears it)
    assert snapshot_point_lookup(spark, path, "k", 10**9).count() == 0


def test_file_blooms_null_rows_and_type_contract(spark, tmp_path):
    """Round-14 ADVICE #1/#2: a NULL in the Bloom column must not crash
    the append (NULL never equi-matches, so excluding it from the Bloom
    is exact); a Bloom on a type whose Spark/Python string renderings
    diverge (double, boolean) must raise loudly BEFORE any manifest is
    committed — and must not leave orphaned staged files; probe values
    outside int/str raise at probe time."""
    import glob
    import os

    import pytest

    from etl_cortex_spark.operators.layout import (
        _bloom_positions_py,
        snapshot_append,
        snapshot_point_lookup,
    )

    path = str(tmp_path / "bloomnull")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k int, tag string"
    )
    snapshot_append(spark, df, path, bloom_col="tag")  # NULL present: no crash
    assert [r.k for r in snapshot_point_lookup(spark, path, "tag", "c").collect()] == [3]
    assert snapshot_point_lookup(spark, path, "tag", "zzz").count() == 0

    # unsafe column type: loud failure, nothing committed, nothing staged
    bad = str(tmp_path / "bloombad")
    dbl = spark.createDataFrame([(1, 2.5)], "k int, x double")
    with pytest.raises(TypeError, match="double"):
        snapshot_append(spark, dbl, bad, bloom_col="x")
    assert glob.glob(os.path.join(bad, "*.manifest.json")) == []
    assert glob.glob(os.path.join(bad, "data", "*", "*.parquet")) == []

    # probe-side contract: bool IS an int subclass but renders 'True'
    for v in (True, 2.5, None):
        with pytest.raises(TypeError):
            _bloom_positions_py(v)


def test_legacy_list_stats_only_prune_single_column_scan(spark, tmp_path):
    """Round-14 ADVICE #3: a round-13 manifest records ONE unlabeled
    [lo, hi] per file. `snapshot_scan` (single-column) may treat it as
    the queried column's; `snapshot_scan_multi` querying a DIFFERENT
    column must treat it as no-stats (never prune) — previously it
    compared against the wrong column's bounds and silently dropped
    matching files."""
    import json

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_scan,
        snapshot_scan_multi,
    )

    path = str(tmp_path / "snaplegacy")
    for lo in (0, 1000):
        batch = (
            spark.range(lo, lo + 1000)
            .withColumnRenamed("id", "k")
            .selectExpr("k", "CAST(k % 7 AS INT) AS v")
        )
        snapshot_append(spark, batch, path, stats_col="k")
    # rewrite the head manifest into the LEGACY INLINE grammar with
    # the legacy (unlabeled list) stats form — resolves exercise both
    # pre-17 compat paths at once
    from etl_cortex_spark.operators.layout import snapshot_meta

    head = _manifests(path)[-1]
    meta = snapshot_meta(path)
    meta["stats"] = {f: entry["k"] for f, entry in meta["stats"].items()}
    with open(head, "w") as f:
        json.dump(meta, f)
    # single-column scan still honors the legacy range (prunes batch 2)
    out = snapshot_scan(spark, path, "k", 10, 20)
    assert sorted(r.k for r in out.collect()) == list(range(10, 21))
    assert len(out.inputFiles()) < len(meta["files"])
    # multi-column scan by ANOTHER column: the legacy [0,1999] range
    # must NOT be read as v's bounds (v only spans 0..6 — comparing
    # v's range [5,5] against k's bounds would prune nothing here, but
    # comparing k-bounds-as-v on a selective file WOULD drop rows; the
    # contract is: no legacy pruning at all in multi mode)
    got = snapshot_scan_multi(spark, path, {"v": (5, 5)})
    assert got.count() == 285  # k in 0..1999 with k%7==5
    assert len(got.inputFiles()) == len(meta["files"])  # no pruning claimed


def test_snapshot_changes_and_scan_see_post_evolution_columns(spark, tmp_path):
    """Round-14 ADVICE #4: after an additive schema evolution the
    change feed and the manifest-pruned scans plan with the NEWEST
    file's schema — new columns are delivered (NULL for pre-evolution
    rows), not silently dropped."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_changes,
        snapshot_scan,
        snapshot_scan_multi,
    )

    path = str(tmp_path / "snapevochanges")
    snapshot_append(
        spark, spark.createDataFrame([(1,), (2,)], "k int"), path, stats_col="k"
    )
    snapshot_append(
        spark,
        spark.createDataFrame([(30, "x"), (31, "y")], "k int, tag string"),
        path,
        stats_col="k",
    )
    delta = snapshot_changes(spark, path, 1, 2)
    assert set(delta.columns) == {"k", "tag"}
    assert {(r.k, r.tag) for r in delta.collect()} == {(30, "x"), (31, "y")}
    # merge_schema twin agrees on this additive history
    delta_m = snapshot_changes(spark, path, 1, 2, merge_schema=True)
    assert {(r.k, r.tag) for r in delta_m.collect()} == {(30, "x"), (31, "y")}
    # scans spanning the evolution surface the new column, NULL-filled
    # for pre-evolution rows
    full = snapshot_scan(spark, path, "k", 0, 100)
    assert {(r.k, r.tag) for r in full.collect()} == {
        (1, None),
        (2, None),
        (30, "x"),
        (31, "y"),
    }
    multi = snapshot_scan_multi(spark, path, {"k": (25, 35)})
    assert {(r.k, r.tag) for r in multi.collect()} == {(30, "x"), (31, "y")}


def test_snapshot_expire_sweeps_orphans_and_keeps_batch_ledger(spark, tmp_path):
    """Round-14 ADVICE #5: (a) staged files no manifest ever referenced
    (a crashed/abandoned writer) are swept by expire once past the
    grace window — younger orphans survive (they may be a concurrent
    writer's in-flight batch); (b) expiring a manifest carries its
    batch_id into the persistent ledger, so a crash-replay of a batch
    OLDER than retention is still a no-op returning the original
    version."""
    import os
    import time

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_expire,
        snapshot_read,
    )

    path = str(tmp_path / "snaporphan")
    v1 = snapshot_append(
        spark, spark.range(0, 10).withColumnRenamed("id", "k"), path, batch_id=7
    )
    snapshot_append(spark, spark.range(10, 20).withColumnRenamed("id", "k"), path)
    # plant an orphan: a staged batch whose writer died before commit
    orphan_dir = os.path.join(path, "data", "batch-deadbeefdead")
    os.makedirs(orphan_dir)
    fresh = os.path.join(orphan_dir, "part-00000.parquet")
    with open(fresh, "wb") as f:
        f.write(b"not really parquet")
    old = os.path.join(orphan_dir, "part-00001.parquet")
    with open(old, "wb") as f:
        f.write(b"stale")
    stale_t = time.time() - 90000
    os.utime(old, (stale_t, stale_t))
    res = snapshot_expire(spark, path, keep_last=1)  # default 24 h grace
    # v1's manifest dropped; its file was rewritten into no later
    # version here (append-only lineage: v2 still references it) —
    # so files_deleted is 0, but the STALE orphan goes; the fresh one
    # survives the grace window
    assert res["manifests_removed"] == 1
    assert res["orphans_deleted"] == 1
    assert not os.path.exists(old)
    assert os.path.exists(fresh)
    assert snapshot_read(spark, path).count() == 20  # head untouched
    # grace 0 sweeps the remaining orphan
    res2 = snapshot_expire(spark, path, keep_last=1, orphan_grace_secs=0.0)
    assert res2["orphans_deleted"] == 1
    assert not os.path.exists(orphan_dir)  # emptied dirs pruned
    # (b) the expired batch_id lives in the ledger: a replay is a no-op
    head_before = _manifests(path)[-1]
    assert snapshot_append(
        spark, spark.range(0, 10).withColumnRenamed("id", "k"), path, batch_id=7
    ) == v1
    assert _manifests(path)[-1] == head_before
    assert snapshot_read(spark, path).count() == 20


def test_snapshot_mor_delete_protocol(spark, tmp_path):
    """Merge-on-read delete: (a) ZERO data files rewritten — v3's file
    set is v2's, by reference; (b) readers resolve live rows via the
    delete anti-join, pinned readers see pre-delete state; (c) rows
    appended AFTER the delete keep their keys even when the delete
    named them (the sequence rule); (d) COW delete/merge refuse while
    deletes are pending; (e) compact APPLIES the deletes and clears
    them; (f) the change feed refuses to walk across a MOR-delete
    step; (g) expire never sweeps a live delete file."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_changes,
        snapshot_compact,
        snapshot_delete,
        snapshot_delete_mor,
        snapshot_expire,
        snapshot_merge,
        snapshot_read,
    )

    path = str(tmp_path / "snapmor")
    snapshot_append(spark, spark.range(0, 100).withColumnRenamed("id", "k"), path)
    snapshot_append(spark, spark.range(100, 200).withColumnRenamed("id", "k"), path)
    v3 = snapshot_delete_mor(spark, path, F.col("k") < 30, "k")
    assert v3 == 3
    from etl_cortex_spark.operators.layout import snapshot_meta

    m3 = snapshot_meta(path, 3)
    m2 = snapshot_meta(path, 2)
    assert m3["files"] == m2["files"]  # by reference, zero rewrites
    assert len(m3["deletes"]) == 1 and m3["deletes"][0]["keys"] == ["k"]
    # (b) live view and pinned reader
    assert sorted(r.k for r in snapshot_read(spark, path).collect()) == list(
        range(30, 200)
    )
    assert snapshot_read(spark, path, version=2).count() == 200
    # (c) re-insert after the delete: new rows keep their keys
    snapshot_append(spark, spark.range(0, 10).withColumnRenamed("id", "k"), path)
    got = sorted(r.k for r in snapshot_read(spark, path).collect())
    assert got == list(range(0, 10)) + list(range(30, 200))
    # (d) rewriting commits refuse while deletes are pending
    with pytest.raises(ValueError, match="pending merge-on-read"):
        snapshot_delete(spark, path, F.col("k") < 5)
    with pytest.raises(ValueError, match="pending merge-on-read"):
        snapshot_merge(
            spark, spark.range(0, 3).withColumnRenamed("id", "k"), path, "k"
        )
    # (f) change feed refuses the MOR step, works on pure-append spans
    with pytest.raises(ValueError, match="merge-on-read delete"):
        snapshot_changes(spark, path, 2, 4)
    assert snapshot_changes(spark, path, 1, 2).count() == 100
    # (e) compact applies and clears
    v5 = snapshot_compact(spark, path)
    m5 = snapshot_meta(path, v5)
    assert "deletes" not in m5
    assert sorted(r.k for r in snapshot_read(spark, path).collect()) == got
    # COW delete works again post-compact
    snapshot_delete(spark, path, F.col("k") >= 190)
    assert snapshot_read(spark, path).count() == len(got) - 10
    # (g) expire keeps the head's referenced set; v3/v4's delete file
    # dies with its manifests (keep_last=2 keeps v5+v6, both clean)
    res = snapshot_expire(spark, path, keep_last=2, orphan_grace_secs=0.0)
    assert res["manifests_removed"] == 4
    assert snapshot_read(spark, path).count() == len(got) - 10
    assert _manifests(path)[-1].endswith("v6.manifest.json")


def test_snapshot_mor_scan_paths_apply_deletes(spark, tmp_path):
    """The pruned read paths (range scan, multi-predicate scan, Bloom
    point lookup) all resolve merge-on-read deletes: a deleted key is
    gone from every path, a surviving key is served, and pruning still
    reads fewer files than the table holds."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete_mor,
        snapshot_point_lookup,
        snapshot_scan,
        snapshot_scan_multi,
    )

    path = str(tmp_path / "snapmorscan")
    for lo in (0, 1000, 2000):
        snapshot_append(
            spark,
            spark.range(lo, lo + 1000).withColumnRenamed("id", "k"),
            path,
            stats_col="k",
            bloom_col="k",
        )
    snapshot_delete_mor(spark, path, F.col("k").between(1100, 1199), "k")
    out = snapshot_scan(spark, path, "k", 1050, 1250)
    assert sorted(r.k for r in out.collect()) == list(range(1050, 1100)) + list(
        range(1200, 1251)
    )
    multi = snapshot_scan_multi(spark, path, {"k": (1150, 2050)})
    assert multi.count() == (2050 - 1150 + 1) - 50  # minus deleted 1150-1199
    assert snapshot_point_lookup(spark, path, "k", 1150).count() == 0
    assert [r.k for r in snapshot_point_lookup(spark, path, "k", 999).collect()] == [999]


def test_snapshot_zorder_compact_prunes_both_dims(spark, tmp_path):
    """OPTIMIZE ZORDER as a snapshot commit: after arrival-order
    ingest (modular batches — zero locality in either dimension), the
    Z-order compaction's manifest zone maps prune a narrow range on
    EITHER clustered column to a strict subset of the files, content
    is preserved exactly, and history keeps the pre-compaction
    version."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_read,
        snapshot_scan,
        snapshot_scan_multi,
    )

    path = str(tmp_path / "snapzorder")
    df = spark.range(0, 30000).select(
        F.col("id").alias("k"),
        (F.col("id") % 173).alias("x"),
        ((F.col("id") * 31) % 997).alias("y"),
    )
    for third in (0, 1, 2):
        snapshot_append(spark, df.filter(F.col("k") % 3 == third), path)
    v = snapshot_compact(
        spark, path, stats_col=["x", "y"], target_files=8, zorder_by=("x", "y")
    )
    assert v == 4
    # content preserved
    assert snapshot_read(spark, path).count() == 30000
    assert snapshot_read(spark, path, version=3).count() == 30000
    n_all = len(snapshot_read(spark, path).inputFiles())
    assert n_all == 8
    # a narrow range on EACH dimension prunes to fewer files
    sx = snapshot_scan(spark, path, "x", 10, 20)
    assert len(sx.inputFiles()) < n_all
    assert sx.count() == df.filter("x between 10 and 20").count()
    sy = snapshot_scan(spark, path, "y", 100, 150)
    assert len(sy.inputFiles()) < n_all
    assert sy.count() == df.filter("y between 100 and 150").count()
    # and the conjunction prunes at least as hard as either alone
    sxy = snapshot_scan_multi(spark, path, {"x": (10, 20), "y": (100, 150)})
    assert len(sxy.inputFiles()) <= min(len(sx.inputFiles()), len(sy.inputFiles()))
    assert sxy.count() == df.filter(
        "x between 10 and 20 and y between 100 and 150"
    ).count()


def test_snapshot_compact_rederives_blooms(spark, tmp_path):
    """A compacted table keeps its point-lookup pruning when asked:
    `snapshot_compact(bloom_col=)` re-derives per-file Blooms over the
    rewritten files, the post-compaction probe prunes and never
    misses, and omitting bloom_col degrades conservatively (all files
    read, values still exact)."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_point_lookup,
        snapshot_read,
    )

    path = str(tmp_path / "snapbloomcompact")
    for third in (0, 1, 2):
        batch = (
            spark.range(0, 600)
            .withColumnRenamed("id", "k")
            .filter(f"k % 3 = {third}")
            .repartition(2)
        )
        snapshot_append(spark, batch, path, bloom_col="k")
    snapshot_compact(spark, path, target_files=6, bloom_col="k")
    n_all = len(snapshot_read(spark, path).inputFiles())
    assert n_all == 6
    for key in (17, 400, 599):
        out = snapshot_point_lookup(spark, path, "k", key)
        assert len(out.inputFiles()) < n_all
        assert [r.k for r in out.collect()] == [key]
    # without bloom_col the rewrite is conservative, never wrong
    snapshot_compact(spark, path, target_files=3)
    out = snapshot_point_lookup(spark, path, "k", 17)
    assert [r.k for r in out.collect()] == [17]
    assert len(out.inputFiles()) == 3  # no pruning claimed


def test_snapshot_tags_guarantee_retention(spark, tmp_path):
    """Tags are retention guarantees: an expire that would drop a
    tagged version keeps its manifest (and the data stays readable by
    ref), re-tagging rebinds, untagging makes the version expirable,
    and tagging a missing version fails loudly."""
    import pytest

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_expire,
        snapshot_read,
        snapshot_read_ref,
        snapshot_refs,
        snapshot_tag,
        snapshot_untag,
    )

    path = str(tmp_path / "snaptags")
    snapshot_append(spark, spark.range(0, 40).withColumnRenamed("id", "k"), path)
    assert snapshot_tag(path, "golden") == 1
    snapshot_append(spark, spark.range(40, 90).withColumnRenamed("id", "k"), path)
    snapshot_append(spark, spark.range(90, 150).withColumnRenamed("id", "k"), path)
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_tag(path, "nope", version=99)
    res = snapshot_expire(spark, path, keep_last=1, orphan_grace_secs=0.0)
    # v2 dropped; v1 SURVIVES because golden pins it
    assert res["manifests_removed"] == 1
    assert [m[-16:] for m in _manifests(path)] == [
        "v1.manifest.json", "v3.manifest.json",
    ]
    assert snapshot_read_ref(spark, path, "golden").count() == 40
    assert snapshot_read(spark, path).count() == 150
    # untag -> the old version becomes expirable
    snapshot_untag(path, "golden")
    assert snapshot_refs(path) == {}
    res2 = snapshot_expire(spark, path, keep_last=1, orphan_grace_secs=0.0)
    assert res2["manifests_removed"] == 1
    with pytest.raises(ValueError, match="no ref"):
        snapshot_read_ref(spark, path, "golden")
    assert snapshot_read(spark, path).count() == 150


def test_snapshot_cdf_delivers_retractions_once(spark, tmp_path):
    """The CDF walk: inserts from appends, full pre-image deletes from
    MOR steps, already-deleted rows never re-emitted by a second
    delete, metadata-only commits deliver nothing, and rewriting
    commits raise."""
    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_changes_cdf,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_tag,
    )

    path = str(tmp_path / "snapcdf")
    snapshot_append(
        spark,
        spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v"),
        path,
    )
    snapshot_append(
        spark,
        spark.range(50, 80).selectExpr("id AS k", "id * 2 AS v"),
        path,
    )
    snapshot_delete_mor(spark, path, F.col("k") < 10, "k")  # v3
    snapshot_delete_mor(spark, path, F.col("k") < 20, "k")  # v4: 10..19 only
    got = [
        (r.k, r.v, r._change_type)
        for r in snapshot_changes_cdf(spark, path, 1, 4).collect()
    ]
    ins = sorted((k, v) for k, v, t in got if t == "insert")
    dels = sorted((k, v) for k, v, t in got if t == "delete")
    assert ins == [(k, 2 * k) for k in range(50, 80)]
    # v3 retracts 0..9; v4 retracts ONLY 10..19 (0..9 already gone)
    assert dels == [(k, 2 * k) for k in range(0, 20)]
    assert len(got) == len(ins) + len(dels)  # exactly-once delivery
    # a rewriting commit in range raises
    snapshot_compact(spark, path)
    with pytest.raises(ValueError, match="rewrites data files"):
        snapshot_changes_cdf(spark, path, 4, 5).collect()
    # the pre-image columns match the table schema plus _change_type
    feed = snapshot_changes_cdf(spark, path, 1, 2)
    assert feed.columns == ["k", "v", "_change_type"]
    snapshot_tag(path, "x")  # refs are not commits: nothing changes


def test_snapshot_wap_invisibility_conflict_and_discard(spark, tmp_path):
    """WAP contract: staged rows are INVISIBLE at head (and to pinned
    readers) until publish; publish refuses when the head moved past
    the staged base; discard removes the staged files and the branch
    without a trace; publish carries stats/blooms/deletes forward."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        SnapshotCommitConflict,
        snapshot_append,
        snapshot_discard_branch,
        snapshot_publish,
        snapshot_read,
        snapshot_read_branch,
        snapshot_stage,
    )

    path = str(tmp_path / "snapwap")
    snapshot_append(spark, spark.range(0, 50).withColumnRenamed("id", "k"), path)
    snapshot_stage(spark, spark.range(50, 80).withColumnRenamed("id", "k"), path, "b")
    # invisible at head; visible on the branch view
    assert snapshot_read(spark, path).count() == 50
    assert snapshot_read_branch(spark, path, "b").count() == 80
    # head moves -> publish refuses (the audit validated a stale state)
    snapshot_append(spark, spark.range(100, 110).withColumnRenamed("id", "k"), path)
    with pytest.raises(SnapshotCommitConflict, match="head moved"):
        snapshot_publish(spark, path, "b")
    # discard: no trace — branch gone, staged files gone
    n = snapshot_discard_branch(path, "b")
    assert n > 0
    assert not glob.glob(os.path.join(path, "branch-*.manifest.json"))
    assert not glob.glob(os.path.join(path, "data", "wap-*", "*.parquet"))
    # restage against the new head and publish
    snapshot_stage(spark, spark.range(50, 80).withColumnRenamed("id", "k"), path, "b")
    v = snapshot_publish(spark, path, "b")
    assert sorted(r.k for r in snapshot_read(spark, path, version=v).collect()) == (
        list(range(0, 80)) + list(range(100, 110))
    )
    assert not os.path.exists(os.path.join(path, "branch-b.manifest.json"))


def test_expire_never_sweeps_staged_branches(spark, tmp_path):
    """The vacuum treats staged WAP branch files as live even past the
    orphan grace window — an in-flight write-audit-publish survives
    retention, and its publish still works afterwards."""
    import glob
    import os
    import time

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_expire,
        snapshot_publish,
        snapshot_read,
        snapshot_stage,
    )

    path = str(tmp_path / "snapwapexp")
    snapshot_append(spark, spark.range(0, 30).withColumnRenamed("id", "k"), path)
    snapshot_append(spark, spark.range(30, 60).withColumnRenamed("id", "k"), path)
    snapshot_stage(spark, spark.range(60, 90).withColumnRenamed("id", "k"), path, "b")
    # age the staged files far past any grace window
    old = time.time() - 10 * 86400
    for p in glob.glob(os.path.join(path, "data", "wap-*", "*.parquet")):
        os.utime(p, (old, old))
    res = snapshot_expire(spark, path, keep_last=1, orphan_grace_secs=0.0)
    assert res["orphans_deleted"] == 0
    assert snapshot_publish(spark, path, "b") == 3
    assert snapshot_read(spark, path).count() == 90


def test_snapshot_compact_empty_live_set_is_well_defined(spark, tmp_path):
    """Round-16 ADVICE: compacting a table whose every row is
    MOR-deleted must not crash (the zorder min/max bounds are NULL)
    and must commit a manifest whose files list is non-empty, so
    every read path keeps working on the empty table."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_read,
        snapshot_scan,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    snapshot_append(spark, df, path, stats_col=["k", "v"])
    assert snapshot_delete_mor(spark, path, F.lit(True), "k") == 2  # version
    assert snapshot_read(spark, path).count() == 0  # all rows MOR-deleted
    v = snapshot_compact(spark, path, stats_col="k", zorder_by=("k", "v"))
    got = snapshot_read(spark, path, version=v)
    assert got.count() == 0
    assert set(got.columns) == {"k", "v"}
    # scan path too (indexes files[-1] for the schema)
    assert snapshot_scan(spark, path, "k", 0, 100).count() == 0
    # and a later append over the empty head works
    snapshot_append(spark, df.limit(3), path)
    assert snapshot_read(spark, path).count() == 3


def test_catalog_lock_serializes_tag_untag_expire(spark, tmp_path):
    """Round-16 ADVICE: refs/ledger mutation is serialized by the
    exclusive-create catalog lock — concurrent tags never lose
    updates, a held lock blocks (then times out loudly), and a stale
    lock from a dead holder is broken instead of deadlocking."""
    import os
    import threading

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _catalog_lock,
        snapshot_append,
        snapshot_refs,
        snapshot_tag,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(spark, spark.range(5).select(F.col("id").alias("k")), path)

    # 16 threads tag concurrently; every name must survive the race
    errs = []

    def _tag(i):
        try:
            snapshot_tag(path, f"t{i}", 1)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=_tag, args=(i,)) for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert set(snapshot_refs(path)) == {f"t{i}" for i in range(16)}

    # a held lock times out loudly instead of silently proceeding
    with _catalog_lock(path):
        with pytest.raises(TimeoutError, match="catalog lock"):
            with _catalog_lock(path, timeout_secs=0.2):
                pass
    # a STALE lock (dead holder) is broken, not deadlocked
    lock = os.path.join(path, ".catalog.lock")
    with open(lock, "w") as f:
        f.write("999999")
    old = os.path.getmtime(lock) - 1_000
    os.utime(lock, (old, old))
    assert snapshot_tag(path, "after_stale", 1) == 1


def test_snapshot_partition_evolution_prunes_both_generations(spark, tmp_path):
    """Round-16: `snapshot_set_layout` is metadata-only (no file is
    rewritten), FUTURE appends cluster by the layout columns with
    auto-recorded zone maps, and `snapshot_scan` prunes across BOTH
    generations from the manifest alone — old files by their own
    recorded stats, new files by the layout clustering."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        SnapshotCommitConflict,
        _manifests,
        snapshot_append,
        snapshot_compact,
        snapshot_read,
        snapshot_scan,
        snapshot_set_layout,
    )

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 7 % 100).alias("v")
    )
    # two pre-evolution batches, one file each, stats recorded
    snapshot_append(spark, mk(0, 200).coalesce(1), path, stats_col="k")
    snapshot_append(spark, mk(200, 400).coalesce(1), path, stats_col="k")
    from etl_cortex_spark.operators.layout import snapshot_meta

    files_before = set(snapshot_meta(path)["files"])

    v = snapshot_set_layout(path, "k", files_per_batch=4)
    meta = snapshot_meta(path, v)
    assert set(meta["files"]) == files_before  # metadata-only commit
    assert meta["layout"]["partition_by"] == ["k"]

    # post-evolution append: shuffled arrival order, NO stats_col —
    # the layout clusters and auto-records zone maps anyway
    snapshot_append(spark, mk(400, 800).orderBy(F.rand(7)), path)
    head = snapshot_meta(path)
    new_gen = [f for f in head["files"] if f not in files_before]
    assert len(new_gen) == 4
    assert all(os.path.abspath(f) in head["stats"] for f in new_gen)

    # full content survives across generations
    assert snapshot_read(spark, path).count() == 800

    # new-generation pruning: a narrow range inside batch 3 touches
    # exactly one clustered file and neither old file
    got = snapshot_scan(spark, path, "k", 450, 460)
    assert got.count() == 11
    touched = {os.path.abspath(f.removeprefix("file:")) for f in got.inputFiles()}
    assert len(touched) == 1
    assert touched <= {os.path.abspath(f) for f in new_gen}

    # old-generation pruning: a range inside batch 1 touches only its file
    got_old = snapshot_scan(spark, path, "k", 100, 110)
    assert got_old.count() == 11
    touched_old = {
        os.path.abspath(f.removeprefix("file:")) for f in got_old.inputFiles()
    }
    assert len(touched_old) == 1
    assert touched_old <= {os.path.abspath(f) for f in files_before}

    # the spec survives a compact; clearing it returns appends to
    # arrival layout
    snapshot_compact(spark, path, stats_col="k", target_files=2)
    assert "layout" in snapshot_meta(path)
    snapshot_set_layout(path, None)
    head2 = snapshot_meta(path)
    assert "layout" not in head2
    snapshot_append(spark, mk(800, 810).coalesce(3), path)
    assert snapshot_read(spark, path).count() == 810

    # an append staged under a superseded spec fails LOUDLY: flip the
    # layout between the append's staging and its commit (hook the
    # bloom derivation, which runs post-staging, pre-commit)
    import pytest

    import etl_cortex_spark.operators.layout as L

    orig_blooms = L.file_blooms

    def _flip_then_derive(spark_, staged_, col_, **kw):
        snapshot_set_layout(path, "v", files_per_batch=2)
        return orig_blooms(spark_, staged_, col_, **kw)

    L.file_blooms = _flip_then_derive
    try:
        with pytest.raises(SnapshotCommitConflict, match="layout changed"):
            snapshot_append(spark, mk(900, 910), path, bloom_col="k")
    finally:
        L.file_blooms = orig_blooms
    # the conflicting append left no trace: head rows unchanged and
    # re-running under the new spec succeeds
    assert snapshot_read(spark, path).count() == 810
    snapshot_append(spark, mk(900, 910), path)
    assert snapshot_read(spark, path).count() == 820

    with pytest.raises(ValueError, match="no manifests"):
        snapshot_set_layout(str(tmp_path / "nope"), "k")


def test_snapshot_row_lineage_tags_and_rewrite_restamp(spark, tmp_path):
    """Round-16 lineage pins: rows carry the version that added their
    file; MOR-deleted survivors keep their ORIGINAL tag; a pinned read
    tags against its own version's history; compaction re-stamps every
    row with the compacting version (the documented file-provenance
    contract); appends after compaction tag with their own version."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_read_lineage,
    )

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    snapshot_append(spark, mk(0, 10), path)   # v1
    snapshot_append(spark, mk(10, 30), path)  # v2

    tags = {
        r["k"]: r["_commit_version"]
        for r in snapshot_read_lineage(spark, path).collect()
    }
    assert all(tags[k] == 1 for k in range(0, 10))
    assert all(tags[k] == 2 for k in range(10, 30))

    # pinned read: only v1's history
    tags1 = {
        r["k"]: r["_commit_version"]
        for r in snapshot_read_lineage(spark, path, version=1).collect()
    }
    assert tags1 == {k: 1 for k in range(0, 10)}

    # MOR delete (v3): survivors keep their original tags
    snapshot_delete_mor(spark, path, F.col("k") % 2 == 0, "k")
    tags3 = {
        r["k"]: r["_commit_version"]
        for r in snapshot_read_lineage(spark, path).collect()
    }
    assert set(tags3) == {k for k in range(30) if k % 2 == 1}
    assert all(tags3[k] == (1 if k < 10 else 2) for k in tags3)

    # compaction (v4) re-stamps everything it rewrote
    v = snapshot_compact(spark, path, target_files=1)
    tags4 = {
        r["k"]: r["_commit_version"]
        for r in snapshot_read_lineage(spark, path).collect()
    }
    assert set(tags4) == set(tags3)
    assert all(t == v for t in tags4.values())

    # and a fresh append tags with its own version
    snapshot_append(spark, mk(100, 103), path)
    tags5 = {
        r["k"]: r["_commit_version"]
        for r in snapshot_read_lineage(spark, path).collect()
    }
    assert all(tags5[k] == v + 1 for k in (100, 101, 102))


def test_snapshot_hidden_partitioning_transforms(spark, tmp_path):
    """Round-16 hidden-partitioning pins: a months() transform layout
    clusters appends by calendar month with SOURCE-column zone maps
    (a one-month scan touches only that month's files, filtering the
    plain date column — no query rewrite); truncate() works on
    numerics; malformed transform specs are rejected loudly."""
    import datetime as dt
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_scan,
        snapshot_set_layout,
    )

    path = str(tmp_path / "tbl")
    rows = [
        (i, dt.date(1996, 1 + (i % 12), 1 + (i % 27)), float(i)) for i in range(240)
    ]
    df = spark.createDataFrame(rows, "k long, d date, v double")
    # seed v1 (pre-evolution) WITH stats so the old generation prunes
    snapshot_append(spark, df.limit(1), path, stats_col="d")
    snapshot_set_layout(path, [("months", "d")], files_per_batch=12)
    snapshot_append(spark, df.filter(F.col("k") > 0), path)

    got = snapshot_scan(spark, path, "d", "1996-03-01", "1996-03-31")
    want = [r["k"] for r in df.filter(F.month("d") == 3).collect()]
    assert sorted(r["k"] for r in got.collect()) == sorted(want)
    touched = {os.path.abspath(f.removeprefix("file:")) for f in got.inputFiles()}
    # 12 month-clustered files + the January-only seed file: a March
    # scan reads EXACTLY the March file
    assert len(touched) == 1

    # truncate() on numerics
    path2 = str(tmp_path / "tbl2")
    snapshot_append(spark, df.limit(1), path2, stats_col="k")
    snapshot_set_layout(path2, [("truncate", "k", 100)], files_per_batch=3)
    snapshot_append(spark, df.filter(F.col("k") > 0), path2)
    got2 = snapshot_scan(spark, path2, "k", 150, 160)
    assert sorted(r["k"] for r in got2.collect()) == list(range(150, 161))
    assert len(got2.inputFiles()) == 1

    # invalid transform params rejected loudly (bucket(n) itself is
    # ADMITTED since round 17 — see test_snapshot_bucket_layout_*)
    with pytest.raises(ValueError, match="width"):
        snapshot_set_layout(path2, [("truncate", "k", 0)])
    with pytest.raises(ValueError, match="bucket needs n > 0"):
        snapshot_set_layout(path2, [("bucket", "k", 0)])
    with pytest.raises(ValueError, match="not supported"):
        snapshot_set_layout(path2, [("hash_mod", "k", 8)])


def test_snapshot_selective_compact_keeps_big_files_by_reference(spark, tmp_path):
    """Round-16 selective-compaction pins: only sub-threshold files
    are rewritten; the big file carries into the new version BY
    REFERENCE with its zone map (and Bloom) intact; fewer than two
    small files is a no-op (no commit); pending MOR deletes refuse."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_read,
        snapshot_scan,
    )

    path = str(tmp_path / "tbl")
    big = spark.range(0, 5_000).select(F.col("id").alias("k"))
    snapshot_append(spark, big.coalesce(1), path, stats_col="k", bloom_col="k")
    snapshot_append(
        spark,
        spark.range(5_000, 5_200).select(F.col("id").alias("k")).repartition(4),
        path,
    )
    from etl_cortex_spark.operators.layout import snapshot_meta

    head = snapshot_meta(path)
    sizes = {p: os.path.getsize(p) for p in head["files"]}
    big_file = max(sizes, key=sizes.get)
    threshold = sizes[big_file]
    v = snapshot_compact(spark, path, target_files=1, small_bytes=threshold)
    meta = snapshot_meta(path, v)
    assert big_file in meta["files"]  # carried by reference, same path
    assert len(meta["files"]) == 2    # big + one compacted file
    # kept zone map and Bloom survived the selective rewrite
    assert os.path.abspath(big_file) in meta.get("stats", {})
    assert os.path.abspath(big_file) in meta.get("blooms", {}).get("k", {})
    assert snapshot_read(spark, path).count() == 5_200
    # kept stats still prune: a scan inside the big file's range reads 1 file
    got = snapshot_scan(spark, path, "k", 10, 20)
    assert got.count() == 11

    # fewer than two small files -> metadata no-op, same head version
    assert snapshot_compact(spark, path, small_bytes=10) == v
    assert len(_manifests(path)) == 3  # no new manifest

    # pending MOR deletes refuse selective compaction
    snapshot_delete_mor(spark, path, F.col("k") < 3, "k")
    with pytest.raises(ValueError, match="selective compaction"):
        snapshot_compact(spark, path, small_bytes=10**9)


def test_snapshot_history_batch_ids_and_expiry(spark, tmp_path):
    """snapshot_history pins: batch commits carry NULL batch_id,
    streamed (batch_id-tagged) commits surface it, and after expire
    the view covers only SURVIVING manifests — the added-count of the
    oldest survivor is its full file set (no predecessor to diff)."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_expire,
        snapshot_history,
    )

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id").alias("k"))  # noqa: E731
    snapshot_append(spark, mk(0, 5).coalesce(1), path)
    snapshot_append(spark, mk(5, 9).coalesce(1), path, batch_id=7)
    snapshot_append(spark, mk(9, 12).coalesce(1), path)

    hist = {r["version"]: r for r in snapshot_history(spark, path).collect()}
    assert [hist[v]["n_files"] for v in (1, 2, 3)] == [1, 2, 3]
    assert [hist[v]["batch_id"] for v in (1, 2, 3)] == [None, 7, None]

    snapshot_expire(spark, path, keep_last=2, orphan_grace_secs=0)
    hist2 = {r["version"]: r for r in snapshot_history(spark, path).collect()}
    assert sorted(hist2) == [2, 3]
    assert hist2[2]["n_added"] == 2  # oldest survivor diffs against nothing


def test_snapshot_merge_mor_rewrites_nothing(spark, tmp_path):
    """Round-16 MOR-merge pins: the upsert commit carries every
    pre-existing data file BY REFERENCE (zero rewrite), adds only the
    batch's files plus one keys-sized delete file; updated keys
    resolve to the batch's rows, unmatched keys insert, NULL-keyed
    rows insert without deleting anything; the batch's own rows are
    NOT covered by the delete (sequence rule); entries accumulate
    over prior pending deletes; compaction materializes the same
    content and clears the entries."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_merge_mor,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    snapshot_append(spark, base, path, stats_col="k")
    snapshot_delete_mor(spark, path, F.col("k") == 4, "k")  # prior pending
    from etl_cortex_spark.operators.layout import snapshot_meta

    before = snapshot_meta(path)

    batch = spark.createDataFrame(
        [(2, 200.0), (9, 900.0), (None, 999.0)], "k long, v double"
    )
    v = snapshot_merge_mor(spark, batch, path, "k")
    meta = snapshot_meta(path, v)
    # every pre-existing file carried by reference; only batch files added
    assert set(before["files"]) <= set(meta["files"])
    assert len(meta["deletes"]) == 2  # prior entry + the merge's
    new_entry = meta["deletes"][-1]
    assert new_entry["applies_to"] == before["files"]  # sequence rule
    assert set(new_entry["applies_to"]).isdisjoint(
        set(meta["files"]) - set(before["files"])
    )
    # kept zone maps survive
    assert meta.get("stats")

    got = {
        (r["k"], r["v"]) for r in snapshot_read(spark, path).collect()
    }
    assert got == {(1, 10.0), (2, 200.0), (3, 30.0), (9, 900.0), (None, 999.0)}

    # compaction materializes identical content and clears the entries
    cv = snapshot_compact(spark, path, target_files=1)
    cmeta = snapshot_meta(path, cv)
    assert "deletes" not in cmeta or not cmeta["deletes"]
    got2 = {
        (r["k"], r["v"]) for r in snapshot_read(spark, path).collect()
    }
    assert got2 == got


def test_catalog_lock_stale_break_is_atomic_and_release_token_checked(spark, tmp_path):
    """Round-16 review fixes: breaking a stale lock uses an atomic
    rename (of N breakers exactly one wins — a breaker can never
    delete a freshly created lock), and release removes the lock only
    when it still carries the holder's own token."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _catalog_lock,
        snapshot_append,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(spark, spark.range(3).select(F.col("id").alias("k")), path)
    lock = os.path.join(path, ".catalog.lock")

    # token-checked release: while held, a breaker replaces the lock
    # with its own — the original holder's exit must NOT remove it
    with _catalog_lock(path):
        os.remove(lock)
        with open(lock, "w") as f:
            f.write("someone-else")
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == "someone-else"
    os.remove(lock)

    # stale break: a dead holder's lock is broken and acquisition
    # succeeds; a FRESH foreign lock is respected (timeout)
    with open(lock, "w") as f:
        f.write("dead-holder")
    old = os.path.getmtime(lock) - 10_000
    os.utime(lock, (old, old))
    with _catalog_lock(path, stale_secs=300):
        pass  # broke the stale lock, acquired, released
    assert not os.path.exists(lock)
    with open(lock, "w") as f:
        f.write("live-holder")
    with pytest.raises(TimeoutError):
        with _catalog_lock(path, timeout_secs=0.2, stale_secs=300):
            pass
    os.remove(lock)

    # missing table directory raises the protocol's ValueError
    with pytest.raises(ValueError, match="no table directory"):
        with _catalog_lock(str(tmp_path / "nope")):
            pass


def test_selective_compact_honors_zorder_and_wap_respects_layout(spark, tmp_path):
    """Round-16 review fixes: (1) snapshot_compact(small_bytes=...,
    zorder_by=...) Morton-clusters the rewritten subset (disjoint
    per-file bounding ranges on both dims); (2) snapshot_stage under
    a layout spec clusters the staged batch and snapshot_publish
    merges its zone maps, so WAP-ingested generations prune exactly
    like appended ones."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        _manifests,
        snapshot_append,
        snapshot_compact,
        snapshot_publish,
        snapshot_scan,
        snapshot_set_layout,
        snapshot_stage,
    )

    path = str(tmp_path / "tbl")
    big = spark.range(20_000).select(
        F.col("id").alias("x"), ((F.col("id") * 7919) % 20_000).alias("y")
    )
    snapshot_append(spark, big.coalesce(1), path, stats_col=["x", "y"])
    snapshot_append(
        spark,
        spark.range(20_000, 20_400)
        .select(F.col("id").alias("x"), (F.col("id") % 100).alias("y"))
        .repartition(4),
        path,
    )
    from etl_cortex_spark.operators.layout import snapshot_meta

    head = snapshot_meta(path)
    threshold = max(os.path.getsize(p) for p in head["files"])
    v = snapshot_compact(
        spark, path, stats_col=["x", "y"], target_files=2,
        zorder_by=("x", "y"), small_bytes=threshold,
    )
    meta = snapshot_meta(path, v)
    new = [p for p in meta["files"] if p not in head["files"]]
    assert len(new) == 2
    xr = [meta["stats"][os.path.abspath(p)]["x"] for p in new]
    # Morton-range-partitioned on a 1-D-dominant key space: the two
    # rewritten files cover disjoint x ranges
    xr.sort()
    assert xr[0][1] <= xr[1][0]

    # (2) WAP under a layout spec
    path2 = str(tmp_path / "tbl2")
    snapshot_append(
        spark,
        spark.range(5).select(F.col("id").alias("x")).coalesce(1),
        path2,
        stats_col="x",
    )
    snapshot_set_layout(path2, "x", files_per_batch=4)
    snapshot_stage(
        spark,
        spark.range(1_000, 1_400).select(F.col("id").alias("x")),
        path2,
        "gate",
    )
    pv = snapshot_publish(spark, path2, "gate")
    pmeta = snapshot_meta(path2, pv)
    staged_files = [p for p in pmeta["files"] if "/wap-" in p]
    assert len(staged_files) == 4  # layout-clustered
    assert all(os.path.abspath(p) in pmeta["stats"] for p in staged_files)
    got = snapshot_scan(spark, path2, "x", 1_100, 1_150)
    assert got.count() == 51
    assert len(got.inputFiles()) == 1  # published generation prunes


def test_snapshot_lineage_after_expiry_resolves_to_oldest_survivor(spark, tmp_path):
    """snapshot_file_versions' documented erasure semantics: files
    whose introducing manifest is past retention resolve to the
    oldest SURVIVING manifest that lists them — the honest answer
    once history is erased — and the lineage read keeps working."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_expire,
        snapshot_read_lineage,
    )

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id").alias("k"))  # noqa: E731
    snapshot_append(spark, mk(0, 5).coalesce(1), path)    # v1
    snapshot_append(spark, mk(5, 8).coalesce(1), path)    # v2
    snapshot_append(spark, mk(8, 10).coalesce(1), path)   # v3
    snapshot_expire(spark, path, keep_last=2, orphan_grace_secs=0)

    tags = {
        r["k"]: r["_commit_version"]
        for r in snapshot_read_lineage(spark, path).collect()
    }
    # v1's files now first appear in v2 (the oldest survivor listing
    # them); v3's keep their true tag
    assert all(tags[k] == 2 for k in range(0, 8))
    assert all(tags[k] == 3 for k in (8, 9))


# --- manifest segments: O(batch) commit metadata (round 17) ----------------


@pytest.mark.slow
def test_snapshot_commit_metadata_bytes_do_not_grow_with_table(spark, tmp_path):
    """The round-16 weak flag, closed and pinned: every commit used to
    reserialize the FULL cumulative file list + zone maps + Blooms into
    one manifest JSON — O(table files) of driver metadata per commit,
    paid per streaming micro-batch. With manifest segments, commit N
    writes its own immutable segment (O(|batch|)) plus a name list
    (O(#commits) at ~40 bytes/name), so the bytes written by commit 30
    stay within noise of commit 3's — while the INLINE serialization of
    the same table state is an order of magnitude larger and growing."""
    import glob as g
    import json
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import snapshot_append, snapshot_meta

    path = str(tmp_path / "tbl")
    per_commit = []  # (manifest_bytes, new_segment_bytes)
    seen_segs: set = set()
    for i in range(30):
        batch = (
            spark.range(i * 100, i * 100 + 100)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
            .coalesce(1)
        )
        v = snapshot_append(spark, batch, path, stats_col=["k", "v"], bloom_col="k")
        man = os.path.join(path, f"v{v}.manifest.json")
        segs = set(g.glob(os.path.join(path, "seg-*.segment.json")))
        new = segs - seen_segs
        seen_segs = segs
        assert len(new) == 1  # exactly one segment per append
        per_commit.append(
            (os.path.getsize(man), sum(os.path.getsize(s) for s in new))
        )
    m3, s3 = per_commit[2]
    m30, s30 = per_commit[-1]
    # segment payload is batch-sized: constant across the run
    assert s30 <= s3 * 1.3, (s3, s30)
    # manifest grows only by the name list: < 120 bytes per commit
    assert (m30 - m3) / 27 < 120, (m3, m30)
    # and the commit's total metadata write is far below what the old
    # inline form would have reserialized (the resolved table state)
    inline_bytes = len(json.dumps(snapshot_meta(path), default=str))
    assert (m30 + s30) * 5 < inline_bytes, (m30 + s30, inline_bytes)


def test_snapshot_expire_sweeps_dead_segments(spark, tmp_path):
    """Segment GC: expiring history removes segments only dropped
    manifests referenced; segments the surviving head references stay,
    and a full compact collapses the segment list to one."""
    import glob as g
    import os

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_expire,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    for lo in (0, 100, 200):
        snapshot_append(
            spark,
            spark.range(lo, lo + 100).withColumnRenamed("id", "k").coalesce(1),
            path,
        )
    assert len(g.glob(os.path.join(path, "seg-*.segment.json"))) == 3
    cv = snapshot_compact(spark, path, target_files=1)
    assert cv == 4
    # all four segments still on disk: v1..v3 reference the originals
    assert len(g.glob(os.path.join(path, "seg-*.segment.json"))) == 4
    res = snapshot_expire(spark, path, keep_last=1, orphan_grace_secs=0.0)
    assert res["manifests_removed"] == 3
    # only the compacted head's single segment survives
    assert len(g.glob(os.path.join(path, "seg-*.segment.json"))) == 1
    assert snapshot_read(spark, path).count() == 300


def test_snapshot_legacy_inline_manifest_migrates_on_next_commit(spark, tmp_path):
    """Pre-17 tables (inline files/stats in the manifest) stay fully
    readable, and the FIRST new-format commit migrates the inline
    state into a segment exactly once — after which commits are
    O(batch) again. Pinned by hand-building a legacy manifest."""
    import glob as g
    import json
    import os

    from etl_cortex_spark.operators.layout import (
        _commit_manifest,
        snapshot_append,
        snapshot_meta,
        snapshot_read,
        snapshot_scan,
    )

    path = str(tmp_path / "tbl")
    os.makedirs(os.path.join(path, "data"))
    staged = os.path.join(path, "data", "legacy")
    spark.range(0, 100).withColumnRenamed("id", "k").coalesce(1) \
        .write.parquet(staged)
    files = sorted(g.glob(os.path.join(staged, "*.parquet")))
    _commit_manifest(path, 1, {
        "version": 1,
        "files": files,
        "stats": {os.path.abspath(files[0]): {"k": [0, 99]}},
    })
    # legacy head reads through every path
    assert snapshot_read(spark, path).count() == 100
    assert snapshot_scan(spark, path, "k", 5, 10).count() == 6
    # new-format append on top: migration segment + batch segment
    snapshot_append(
        spark,
        spark.range(100, 150).withColumnRenamed("id", "k").coalesce(1),
        path,
        stats_col="k",
    )
    assert len(g.glob(os.path.join(path, "seg-*.segment.json"))) == 2
    with open(os.path.join(path, "v2.manifest.json")) as f:
        raw = json.load(f)
    assert "files" not in raw and len(raw["segments"]) == 2
    meta = snapshot_meta(path)
    assert len(meta["files"]) == 2 and meta["files"][0] == files[0]
    # the legacy file's zone map survived the migration
    assert meta["stats"][os.path.abspath(files[0])]["k"] == [0, 99]
    assert snapshot_read(spark, path).count() == 150


def test_snapshot_position_deletes_keyless_compose_and_guard(spark, tmp_path):
    """Round-17 position deletes (Iceberg v2's second delete form):
    row-level deletes on a KEYLESS table commit (file, pos) entries
    with zero data files rewritten; they compose with equality deletes
    on the same version; rows appended later are untouched (positions
    name files explicitly); COW rewrites refuse while they are
    pending; the append-only feeds refuse the step; compaction applies
    and clears; expire treats the delete files as live references."""
    import pytest

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_changes,
        snapshot_changes_cdf,
        snapshot_compact,
        snapshot_delete,
        snapshot_delete_mor,
        snapshot_delete_pos,
        snapshot_expire,
        snapshot_meta,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    # KEYLESS table: text rows, no identifier column at all
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.concat(F.lit("doc-"), F.col("id")).alias("text"),
        (F.col("id") % 10).alias("bucket"),
    ).drop("id")
    snapshot_append(spark, mk(0, 60).coalesce(2), path)
    snapshot_append(spark, mk(60, 100).coalesce(1), path)
    v3 = snapshot_delete_pos(spark, path, F.col("bucket") == 3)
    assert v3 == 3
    # zero rewrites: the file set is carried by reference
    assert snapshot_meta(path, 2)["files"] == snapshot_meta(path, 3)["files"]
    assert snapshot_read(spark, path).count() == 90
    # NULL predicate rows are KEPT (3VL): a predicate over a NULL col
    assert (
        snapshot_delete_pos(
            spark, path, F.when(F.col("bucket") > 100, True)
        )
        == 4
    )
    assert snapshot_read(spark, path).count() == 90
    # composes with an equality delete on the same version
    snapshot_delete_mor(spark, path, F.col("bucket") == 7, "bucket")
    assert snapshot_read(spark, path).count() == 80
    # later append is untouched by BOTH pending delete families
    snapshot_append(spark, mk(100, 120).coalesce(1), path)  # has buckets 3+7
    assert snapshot_read(spark, path).count() == 100
    # COW rewrites refuse while pos deletes pend
    with pytest.raises(ValueError, match="pending merge-on-read"):
        snapshot_delete(spark, path, F.col("bucket") == 0)
    # the added-files feed refuses the pos-delete step; the CDF feed
    # DELIVERS it (round 17): full pre-images, _change_type='delete'
    with pytest.raises(ValueError, match="delete"):
        snapshot_changes(spark, path, 2, 3)
    feed = snapshot_changes_cdf(spark, path, 2, 3).collect()
    assert all(r._change_type == "delete" for r in feed)
    assert sorted(r.text for r in feed) == sorted(
        f"doc-{i}" for i in range(100) if i % 10 == 3
    )
    # and the no-op pos delete (v4) delivers nothing
    assert snapshot_changes_cdf(spark, path, 3, 4).count() == 0
    # compaction applies and clears both families
    cv = snapshot_compact(spark, path, target_files=1)
    head = snapshot_meta(path, cv)
    assert "deletes" not in head and "pos_deletes" not in head
    got = sorted(r.text for r in snapshot_read(spark, path).collect())
    want = sorted(
        f"doc-{i}" for i in range(120)
        if not (i < 100 and i % 10 in (3, 7))
    )
    assert got == want
    # pinned pre-compact version still resolves (delete files live)
    snapshot_expire(spark, path, keep_last=3, orphan_grace_secs=0.0)
    assert snapshot_read(spark, path, version=6).count() == 100
    assert snapshot_read(spark, path).count() == 100


def test_snapshot_lineage_survives_special_char_table_paths(spark, tmp_path):
    """Round-16 ADVICE #1: input_file_name() returns PERCENT-ENCODED
    URIs, so a table path containing spaces or '%' used to mismatch
    the abspath lineage dim and silently drop every row from the
    audit-facing read. Pinned on a path with both hazards."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read_lineage,
    )

    path = str(tmp_path / "dir with space" / "run+1" / "t%20bl")
    snapshot_append(
        spark, spark.range(0, 50).withColumnRenamed("id", "k"), path
    )
    snapshot_append(
        spark, spark.range(50, 80).withColumnRenamed("id", "k"), path
    )
    rows = snapshot_read_lineage(spark, path).collect()
    assert len(rows) == 80  # nothing silently dropped
    got = {r.k: r._commit_version for r in rows}
    assert all(v is not None for v in got.values())  # every row matched
    assert got[0] == 1 and got[79] == 2


def test_snapshot_merge_mor_delete_keys_from_staged_readback(spark, tmp_path):
    """Round-16 ADVICE #2: merge_mor derives its equality-delete keys
    from the STAGED FILES READ BACK, not a re-evaluation of the
    caller's df — a NONDETERMINISTIC batch (rand-derived keys) must
    commit delete keys that agree exactly with the batch rows in the
    same manifest. Pinned: after the merge, a batch key never
    coexists with a pre-existing row of the same key, and every
    batch row survives."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_merge_mor,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    base = spark.range(0, 200).select(
        F.col("id").alias("k"), F.lit("old").alias("src")
    )
    snapshot_append(spark, base, path)
    # nondeterministic batch: every evaluation yields different keys
    batch = spark.range(0, 40).select(
        (F.rand(seed=None) * 200).cast("long").alias("k"),
        F.lit("new").alias("src"),
    ).distinct()
    snapshot_merge_mor(spark, batch, path, "k")
    rows = snapshot_read(spark, path).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.k, []).append(r.src)
    # the MERGE contract on what was actually written: a key carried
    # by a committed batch row must have exactly its new row(s), never
    # an old one beside them
    for k, srcs in by_key.items():
        if "new" in srcs:
            assert "old" not in srcs, (k, srcs)
    n_new = sum(1 for r in rows if r.src == "new")
    assert n_new >= 1  # the staged batch's rows all survive
    assert len(rows) == 200 - len(
        {k for k, srcs in by_key.items() if "new" in srcs}
    ) + n_new


def test_catalog_lock_fence_detects_broken_hold(spark, tmp_path):
    """Round-16 ADVICE #3: the yielded fence re-verifies the lock
    token — a holder whose lock was stale-broken (simulated by
    rewriting the token) aborts loudly at the next protected write
    instead of mutating shared state under its breaker."""
    import os

    import pytest

    from etl_cortex_spark.operators.layout import _catalog_lock

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    with _catalog_lock(path) as fence:
        fence()  # healthy hold passes
        with open(os.path.join(path, ".catalog.lock"), "w") as f:
            f.write("someone-else")  # a breaker took the lock
        with pytest.raises(TimeoutError, match="broken while held"):
            fence()


@pytest.mark.slow
def test_snapshot_rewrite_segments_consolidates_metadata_only(spark, tmp_path):
    """Round-17 rewrite_manifests analogue: consolidating the segment
    list touches NO data file, shrinks the head manifest back to one
    name, preserves reads, zone-map pruning, Blooms AND pending
    delete scoping (entries' applies_to_segments keep naming the
    pre-consolidation segments, which stay alive)."""
    import glob as g
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete_mor,
        snapshot_meta,
        snapshot_point_lookup,
        snapshot_read,
        snapshot_rewrite_segments,
        snapshot_scan,
    )

    path = str(tmp_path / "tbl")
    for i in range(12):
        snapshot_append(
            spark,
            spark.range(i * 100, i * 100 + 100)
            .withColumnRenamed("id", "k")
            .coalesce(1),
            path,
            stats_col="k",
            bloom_col="k",
        )
    snapshot_delete_mor(spark, path, F.col("k") < 50, "k")
    # a post-delete append: its rows are OUTSIDE the delete's scope
    snapshot_append(
        spark,
        spark.range(0, 10).withColumnRenamed("id", "k").coalesce(1),
        path,
        stats_col="k",
    )
    data_before = sorted(
        g.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
    )
    man_before = os.path.getsize(
        os.path.join(path, "v14.manifest.json")
    )
    v = snapshot_rewrite_segments(path)
    assert v == 15
    # metadata-only: identical data files, smaller manifest, 1 segment
    data_after = sorted(
        g.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
    )
    assert data_after == data_before
    meta = snapshot_meta(path)
    man_after = os.path.getsize(os.path.join(path, "v15.manifest.json"))
    assert man_after < man_before
    raw_head = open(os.path.join(path, "v15.manifest.json")).read()
    assert raw_head.count("seg-") >= 2  # merged ref + delete scoping refs
    # content identical: delete scope preserved (k<50 gone from the
    # pre-delete generation, the post-delete re-append of 0..9 kept)
    got = sorted(r.k for r in snapshot_read(spark, path).collect())
    assert got == sorted(list(range(0, 10)) + list(range(50, 1200)))
    # pruning and Blooms survive consolidation: exactly ONE data file
    # scanned (inputFiles also lists the equality-delete key file the
    # anti-join reads — not a data scan)
    sc = snapshot_scan(spark, path, "k", 250, 260)
    data_scanned = [f for f in sc.inputFiles() if "/batch-" in f]
    assert sc.count() == 11 and len(data_scanned) == 1
    assert snapshot_point_lookup(spark, path, "k", 777).count() == 1
    # idempotent: single segment (plus scoping refs) is a no-op
    assert snapshot_rewrite_segments(path) == 15
    assert "stats" in meta and "blooms" in meta


def test_snapshot_bucket_layout_prunes_point_lookups(spark, tmp_path):
    """Round-17 bucket(n) hidden partitioning (the round-16 documented
    boundary, closed): appends under a bucket layout cluster by the
    md5 bucket of the key and record TRANSFORM-VALUE zone maps;
    `snapshot_point_lookup_bucket` prunes a key probe to the files
    whose bucket range can contain it — strictly fewer than the
    table's — while pre-layout files stay conservatively read, and
    the result equals the full-scan filter exactly."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_point_lookup_bucket,
        snapshot_read,
        snapshot_set_layout,
    )

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.concat(F.lit("user-"), F.col("id")).alias("uid"),
        (F.col("id") * 3).alias("v"),
    )
    # one PRE-layout file (no transform stats — must stay readable)
    snapshot_append(spark, mk(0, 50).coalesce(1), path)
    snapshot_set_layout(path, ("bucket", "uid", 16), files_per_batch=8)
    snapshot_append(spark, mk(50, 1050), path)
    snapshot_append(spark, mk(1050, 2050), path)
    assert snapshot_read(spark, path).count() == 2050

    # probe a key in the bucketed generations
    got = snapshot_point_lookup_bucket(spark, path, "uid", "user-1234")
    rows = got.collect()
    assert [(r.uid, r.v) for r in rows] == [("user-1234", 3702)]
    n_total = len(snapshot_read(spark, path).inputFiles())
    n_read = len(got.inputFiles())
    # pruned: the pre-layout file + ~1/8 of each bucketed generation
    assert 0 < n_read < n_total
    assert n_read <= 1 + 2 * 2  # conservative slack: seed + <=2/gen

    # a pre-layout key must also be found (its file has no transform
    # stats and is conservatively kept)
    got0 = snapshot_point_lookup_bucket(spark, path, "uid", "user-7")
    assert [(r.uid, r.v) for r in got0.collect()] == [("user-7", 21)]

    # rendering contract: non-int/str probes refuse loudly
    with pytest.raises(TypeError, match="int or str"):
        snapshot_point_lookup_bucket(spark, path, "uid", 1.5)
    # no bucket layout on that column -> loud
    with pytest.raises(ValueError, match="no bucket"):
        snapshot_point_lookup_bucket(spark, path, "v", 3702)


def test_snapshot_grammar_boundary_wap_and_rollback(spark, tmp_path):
    """Round-17 mixed-history pins: (a) WAP staged onto a LEGACY
    inline head publishes through the segment grammar (migration +
    branch segment); (b) rollback to a legacy version re-commits its
    inline grammar verbatim and the next append migrates it again;
    (c) snapshot_changes walks cleanly across the legacy→segmented
    boundary (the migration preserves file paths exactly)."""
    import glob as g
    import json
    import os

    from etl_cortex_spark.operators.layout import (
        _commit_manifest,
        snapshot_append,
        snapshot_changes,
        snapshot_publish,
        snapshot_read,
        snapshot_rollback,
        snapshot_stage,
    )

    path = str(tmp_path / "tbl")
    os.makedirs(os.path.join(path, "data"))
    staged = os.path.join(path, "data", "legacy")
    spark.range(0, 40).withColumnRenamed("id", "k").coalesce(1) \
        .write.parquet(staged)
    files = sorted(g.glob(os.path.join(staged, "*.parquet")))
    _commit_manifest(path, 1, {"version": 1, "files": files})

    # (a) WAP onto the legacy head
    snapshot_stage(
        spark, spark.range(40, 70).withColumnRenamed("id", "k"), path, "gate"
    )
    v2 = snapshot_publish(spark, path, "gate")
    assert v2 == 2
    with open(os.path.join(path, "v2.manifest.json")) as f:
        raw2 = json.load(f)
    assert "files" not in raw2 and len(raw2["segments"]) == 2
    assert snapshot_read(spark, path).count() == 70

    # (c) changes across the boundary: v1 -> v2 is a pure append
    assert snapshot_changes(spark, path, 1, 2).count() == 30

    # (b) rollback to the legacy version, then append on top
    v3 = snapshot_rollback(spark, path, to_version=1)
    with open(os.path.join(path, f"v{v3}.manifest.json")) as f:
        raw3 = json.load(f)
    assert raw3.get("files") == files  # legacy grammar carried verbatim
    assert snapshot_read(spark, path).count() == 40
    snapshot_append(
        spark, spark.range(70, 75).withColumnRenamed("id", "k").coalesce(1), path
    )
    assert sorted(r.k for r in snapshot_read(spark, path).collect()) == (
        list(range(0, 40)) + list(range(70, 75))
    )


def test_snapshot_bucket_layout_tolerates_null_keys(spark, tmp_path):
    """Round-17 review finding #1: a NULLABLE bucket key
    deterministically produces an all-NULL file (repartitionByRange
    sorts NULLs first), whose transform-value zone map is [None,
    None]; the probe must treat None bounds as "no stats" and keep
    the file conservatively — never TypeError, never a wrong prune."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_point_lookup_bucket,
        snapshot_read,
        snapshot_set_layout,
    )

    path = str(tmp_path / "tbl")
    mk = spark.range(0, 400).select(
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.concat(F.lit("u"), F.col("id")))
        .alias("uid"),
        F.col("id").alias("v"),
    )
    snapshot_append(spark, mk.limit(1), path)
    snapshot_set_layout(path, ("bucket", "uid", 8), files_per_batch=8)
    snapshot_append(spark, mk.filter(F.col("v") > 0), path)
    assert snapshot_read(spark, path).count() == 400
    got = snapshot_point_lookup_bucket(spark, path, "uid", "u77")
    assert [(r.uid, r.v) for r in got.collect()] == [("u77", 77)]


def test_snapshot_history_counts_position_delete_entries(spark, tmp_path):
    """Round-17 review finding #2: the history view's pending-delete
    column covers BOTH MOR families — a position-delete commit is
    visible audit debt, not a metadata no-op."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete_mor,
        snapshot_delete_pos,
        snapshot_history,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(
        spark, spark.range(100).withColumnRenamed("id", "k"), path
    )
    snapshot_delete_pos(spark, path, F.col("k") < 5)
    snapshot_delete_mor(spark, path, F.col("k") >= 95, "k")
    hist = {r.version: r.n_delete_entries for r in snapshot_history(spark, path).collect()}
    assert hist == {1: 0, 2: 1, 3: 2}


def test_stats_and_cow_survive_special_char_paths(spark, tmp_path):
    """Round-17 ADVICE #1: multi_file_stats / multi_file_expr_stats
    keyed their maps with an UNDECODED abspath of input_file_name()'s
    percent-encoded URI, so on table paths with spaces/'%'/non-ASCII
    the stat keys never matched manifest abspaths — zone-map and
    bucket pruning silently lost, and the COW delete's affected-file
    set resolved to paths that don't exist on disk. Pinned on a path
    with every hazard at once."""
    import os

    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete,
        snapshot_meta,
        snapshot_point_lookup_bucket,
        snapshot_read,
        snapshot_scan,
        snapshot_set_layout,
    )

    path = str(tmp_path / "dir with space" / "run+1" / "t%20ü")
    snapshot_append(
        spark,
        spark.range(0, 100).withColumnRenamed("id", "k").repartition(4),
        path,
        stats_col="k",
        bloom_col="k",
    )
    meta = snapshot_meta(path)
    file_set = {os.path.abspath(f) for f in meta["files"]}
    # the zone-map and Bloom maps key EXACTLY the manifest's files
    assert set(meta["stats"]) == file_set
    assert set(meta["blooms"]["k"]) == file_set
    # so stats-based pruning actually prunes on this path
    pruned = snapshot_scan(spark, path, "k", 0, 0)
    assert pruned.count() == 1
    assert len(pruned.inputFiles()) < len(meta["files"])
    # bucket(n) hidden partitioning: transform-value stats key correctly
    snapshot_set_layout(path, ("bucket", "k", 8), files_per_batch=4)
    snapshot_append(
        spark,
        spark.range(100, 200).withColumnRenamed("id", "k").repartition(4),
        path,
    )
    hit = snapshot_point_lookup_bucket(spark, path, "k", 150)
    assert hit.count() == 1
    # and the COW delete's affected-set paths exist and rewrite works
    # (v1 append, v2 layout commit, v3 append — the delete is v4)
    v = snapshot_delete(spark, path, F.col("k") < 10)
    assert v == 4
    assert snapshot_read(spark, path).count() == 190


def test_append_retry_drops_stale_migration_segments(spark, tmp_path):
    """Round-17 ADVICE #2: snapshot_append called _segments_of once
    per RETRY, so a legacy inline head plus a lost commit race wrote a
    fresh migration segment per attempt and abandoned the stale ones
    as orphans (only batch_seg was cleaned). Pinned by racing a
    segmented commit under the first attempt and asserting every
    segment file on disk is referenced by some manifest."""
    import glob as g
    import json
    import os

    import etl_cortex_spark.operators.layout as L

    path = str(tmp_path / "tbl")
    os.makedirs(os.path.join(path, "data"))
    staged = os.path.join(path, "data", "legacy")
    spark.range(0, 50).withColumnRenamed("id", "k").coalesce(1) \
        .write.parquet(staged)
    files = sorted(g.glob(os.path.join(staged, "*.parquet")))
    L._commit_manifest(path, 1, {"version": 1, "files": files})

    other = os.path.join(path, "data", "racer")
    spark.range(50, 60).withColumnRenamed("id", "k").coalesce(1) \
        .write.parquet(other)
    other_files = sorted(g.glob(os.path.join(other, "*.parquet")))

    real = L._commit_manifest
    state = {"raced": False}

    def racing(p, version, meta):
        if not state["raced"]:
            state["raced"] = True
            seg = L._write_segment(p, files + other_files)
            real(p, version, {"version": version, "segments": [seg]})
        return real(p, version, meta)

    L._commit_manifest = racing
    try:
        v = L.snapshot_append(
            spark,
            spark.range(60, 70).withColumnRenamed("id", "k").coalesce(1),
            path,
        )
    finally:
        L._commit_manifest = real
    assert state["raced"] and v == 3
    referenced: set = set()
    for m in g.glob(os.path.join(path, "v*.manifest.json")):
        with open(m) as f:
            referenced |= set(json.load(f).get("segments") or [])
    on_disk = {
        os.path.basename(s)
        for s in g.glob(os.path.join(path, "seg-*.segment.json"))
    }
    assert on_disk == referenced  # attempt-1's migration segment is gone
    assert L.snapshot_read(spark, path).count() == 70


def test_delete_conflict_paths_leave_no_orphans(spark, tmp_path):
    """Round-17 ADVICE #3: snapshot_delete_pos / snapshot_delete_mor
    left their staged delete parquet (and any legacy-head migration
    segment) on disk when the commit lost a race, inconsistent with
    the no-orphan abandon paths of append/merge_mor/publish."""
    import glob as g
    import os

    from pyspark.sql import functions as F

    import etl_cortex_spark.operators.layout as L

    def _legacy_table(name):
        path = str(tmp_path / name)
        os.makedirs(os.path.join(path, "data"))
        staged = os.path.join(path, "data", "legacy")
        spark.range(0, 30).withColumnRenamed("id", "k").coalesce(1) \
            .write.parquet(staged)
        files = sorted(g.glob(os.path.join(staged, "*.parquet")))
        L._commit_manifest(path, 1, {"version": 1, "files": files})
        return path

    real = L._commit_manifest

    def conflict(p, version, meta):
        raise L.SnapshotCommitConflict("simulated lost race")

    for op, staged_prefix in (
        (lambda p: L.snapshot_delete_pos(spark, p, F.col("k") < 5),
         "posdel-"),
        (lambda p: L.snapshot_delete_mor(spark, p, F.col("k") < 5, "k"),
         "eqdel-"),
    ):
        path = _legacy_table(staged_prefix)
        L._commit_manifest = conflict
        try:
            import pytest

            with pytest.raises(L.SnapshotCommitConflict):
                op(path)
        finally:
            L._commit_manifest = real
        # the staged delete dir is gone ...
        assert not g.glob(os.path.join(path, "data", staged_prefix + "*"))
        # ... and so is the migration segment the attempt wrote
        assert not g.glob(os.path.join(path, "seg-*.segment.json"))
        # the table still reads at its pre-conflict state
        assert L.snapshot_read(spark, path).count() == 30


def test_position_delete_reserved_column_guard(spark, tmp_path):
    """Round-17 ADVICE #4: the position-delete machinery reserves
    _file/_pos (delete files, keep_pos_tags output) and __pf/__pp
    (scan tags); a data column with one of those names used to
    surface as an ambiguous-column AnalysisException (or a wrong
    semi-join) deep inside the read path. Both boundaries now refuse
    loudly at entry."""
    import pytest
    from pyspark.sql import functions as F

    import etl_cortex_spark.operators.layout as L

    for bad in ("_file", "_pos", "__pf", "__pp"):
        path = str(tmp_path / f"t{bad}")
        df = spark.range(0, 10).withColumnRenamed("id", "k") \
            .withColumn(bad, F.lit(1))
        L.snapshot_append(spark, df.coalesce(1), path)
        with pytest.raises(ValueError, match="reserved"):
            L.snapshot_delete_pos(spark, path, F.col("k") < 3)
    # the read-side guard fires too (a hand-built pos-delete state)
    df = spark.range(0, 10).withColumnRenamed("id", "k") \
        .withColumn("__pf", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        L._apply_mor_deletes(
            spark, {"pos_deletes": [{"files": []}]}, ["x"], df.schema
        )
    # lineage's __file reservation is guarded the same way
    df2 = spark.range(0, 10).withColumnRenamed("id", "k") \
        .withColumn("__file", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        L._apply_mor_deletes(spark, {}, ["x"], df2.schema, tag_versions={})


def test_snapshot_tail_checkpointed_source(spark, tmp_path):
    """Round 18 — `snapshot_tail`, the Delta readStream analog: a
    durable cursor, per-pull delivery of exactly the appended rows,
    at-least-once on crash (no ack → re-delivery), and a loud refusal
    on non-append commits."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_tail,
    )

    path = str(tmp_path / "tbl")
    state = str(tmp_path / "cursor.json")
    snapshot_append(
        spark, spark.range(0, 40).withColumnRenamed("id", "k"), path
    )
    snapshot_append(
        spark, spark.range(40, 70).withColumnRenamed("id", "k"), path
    )
    # first pull: everything at head
    df, lo, hi, ack = snapshot_tail(spark, path, state)
    assert (lo, hi) == (0, 2) and df.count() == 70
    # crash before ack: the pull re-delivers (at-least-once)
    df2, lo2, hi2, ack2 = snapshot_tail(spark, path, state)
    assert (lo2, hi2) == (0, 2) and df2.count() == 70
    ack2()
    # cursor at head: empty pull, from == to
    df3, lo3, hi3, ack3 = snapshot_tail(spark, path, state)
    assert (lo3, hi3) == (2, 2) and df3.count() == 0
    ack3()
    # a later append delivers ONLY its own rows
    snapshot_append(
        spark, spark.range(70, 85).withColumnRenamed("id", "k"), path
    )
    df4, lo4, hi4, ack4 = snapshot_tail(spark, path, state)
    assert (lo4, hi4) == (2, 3)
    assert sorted(r.k for r in df4.collect()) == list(range(70, 85))
    ack4()
    # a MOR delete breaks the append-only lineage: refuse loudly
    snapshot_delete_mor(spark, path, F.col("k") < 10, "k")
    with pytest.raises(ValueError, match="append-only|delete"):
        snapshot_tail(spark, path, state)
    # a compaction (rewrite) past the cursor refuses too
    snapshot_compact(spark, path)
    with pytest.raises(ValueError, match="append-only|delete"):
        snapshot_tail(spark, path, state)
    # re-seed: a fresh cursor full-refreshes from the compacted head
    os.remove(state)
    df5, lo5, hi5, _ = snapshot_tail(spark, path, state)
    assert (lo5, hi5) == (0, 5) and df5.count() == 75


def test_snapshot_tail_exactly_once_composition(spark, tmp_path):
    """Crash-replay of an UNACKED pull composes with the downstream
    batch ledger to exactly-once: the re-delivered pull's
    snapshot_append(batch_id=to_version) resolves to a no-op."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
        snapshot_tail,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    state = str(tmp_path / "cursor.json")
    snapshot_append(
        spark, spark.range(0, 50).withColumnRenamed("id", "k"), src
    )
    df, lo, hi, ack = snapshot_tail(spark, src, state)
    snapshot_append(spark, df, dst, batch_id=hi)
    # CRASH before ack: next pull re-delivers the same window ...
    df2, lo2, hi2, ack2 = snapshot_tail(spark, src, state)
    assert (lo2, hi2) == (lo, hi)
    # ... and the downstream ledger makes the replayed commit a no-op
    v = snapshot_append(spark, df2, dst, batch_id=hi2)
    assert v == 1
    ack2()
    assert snapshot_read(spark, dst).count() == 50


def test_snapshot_tail_first_pull_refuses_pending_mor(spark, tmp_path):
    """A from-scratch seed over a head with pending MOR deletes would
    deliver retracted rows as live — refuse loudly instead."""
    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete_pos,
        snapshot_tail,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(
        spark, spark.range(0, 30).withColumnRenamed("id", "k"), path
    )
    snapshot_delete_pos(spark, path, F.col("k") < 5)
    with pytest.raises(ValueError, match="pending merge-on-read"):
        snapshot_tail(spark, path, str(tmp_path / "c.json"))


def test_snapshot_tail_changes_delivers_retractions(spark, tmp_path):
    """Round 18 — `snapshot_tail_changes`, the retraction-aware
    sibling: a from-scratch seed emits the MOR-resolved live view as
    inserts, later pulls deliver CDF-shaped deltas across appends AND
    MOR deletes, and the ack cursor is durable."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_delete_mor,
        snapshot_delete_pos,
        snapshot_tail_changes,
    )

    path = str(tmp_path / "tbl")
    state = str(tmp_path / "cursor.json")
    snapshot_append(
        spark, spark.range(0, 40).withColumnRenamed("id", "k"), path
    )
    snapshot_delete_pos(spark, path, F.col("k") >= 35)
    # seed over a pending-MOR head: live view as inserts (35 rows)
    df, lo, hi, ack = snapshot_tail_changes(spark, path, state)
    assert (lo, hi) == (0, 2)
    rows = df.collect()
    assert all(r._change_type == "insert" for r in rows)
    assert sorted(r.k for r in rows) == list(range(35))
    ack()
    # an append then an equality delete: one pull, both delta kinds
    snapshot_append(
        spark, spark.range(40, 60).withColumnRenamed("id", "k"), path
    )
    snapshot_delete_mor(spark, path, F.col("k") % 2 == 0, "k")
    df2, lo2, hi2, ack2 = snapshot_tail_changes(spark, path, state)
    assert (lo2, hi2) == (2, 4)
    ins = sorted(r.k for r in df2.collect() if r._change_type == "insert")
    dels = sorted(r.k for r in df2.collect() if r._change_type == "delete")
    assert ins == list(range(40, 60))
    # deletes retract the LIVE evens: 0..34 minus nothing pos-deleted
    # below 35, plus the just-appended evens 40..58
    assert dels == [k for k in list(range(35)) + list(range(40, 60))
                    if k % 2 == 0]
    ack2()
    # cursor at head: empty pull with the _change_type column present
    df3, lo3, hi3, _ = snapshot_tail_changes(spark, path, state)
    assert (lo3, hi3) == (4, 4) and df3.count() == 0
    assert "_change_type" in df3.columns


def test_snapshot_tail_cursor_is_table_scoped(spark, tmp_path):
    """A cursor file written for one table refuses to drive another
    (version numbers alias across tables, so misapplying it would
    silently skip the other table's early versions)."""
    import pytest

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_tail,
        snapshot_tail_changes,
    )

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    state = str(tmp_path / "cursor.json")
    snapshot_append(spark, spark.range(0, 10).withColumnRenamed("id", "k"), a)
    snapshot_append(spark, spark.range(0, 99).withColumnRenamed("id", "k"), b)
    _, _, _, ack = snapshot_tail(spark, a, state)
    ack()
    with pytest.raises(ValueError, match="belongs to table"):
        snapshot_tail(spark, b, state)
    with pytest.raises(ValueError, match="belongs to table"):
        snapshot_tail_changes(spark, b, state)


def test_rewriting_commit_conflicts_leave_no_orphans(spark, tmp_path):
    """Round-18 sweep of the round-17 ADVICE #3 hazard class across
    the REMAINING rewriting commits: COW delete, COW merge, and both
    snapshot_compact forms now remove their staged rewrite dirs and
    freshly written segments (replacements AND legacy migrations)
    when the commit loses its race."""
    import glob as g
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    import etl_cortex_spark.operators.layout as L

    def _legacy_table(name, two_files=False):
        path = str(tmp_path / name)
        os.makedirs(os.path.join(path, "data"))
        n = 2 if two_files else 1
        for i in range(n):
            staged = os.path.join(path, "data", f"legacy{i}")
            spark.range(i * 20, (i + 1) * 20).withColumnRenamed(
                "id", "k"
            ).coalesce(1).write.parquet(staged)
        files = sorted(
            g.glob(os.path.join(path, "data", "legacy*", "*.parquet"))
        )
        L._commit_manifest(path, 1, {"version": 1, "files": files})
        return path

    real = L._commit_manifest

    def conflict(p, version, meta):
        raise L.SnapshotCommitConflict("simulated lost race")

    cases = [
        ("cowdel", False,
         lambda p: L.snapshot_delete(spark, p, F.col("k") < 5)),
        ("cowmerge", False,
         lambda p: L.snapshot_merge(
             spark,
             spark.range(0, 3).withColumnRenamed("id", "k"),
             p, "k")),
        ("compactfull", False, lambda p: L.snapshot_compact(spark, p)),
        ("compactsmall", True,
         lambda p: L.snapshot_compact(spark, p, small_bytes=1 << 30)),
    ]
    for name, two, op in cases:
        path = _legacy_table(name, two_files=two)
        L._commit_manifest = conflict
        try:
            with pytest.raises(L.SnapshotCommitConflict):
                op(path)
        finally:
            L._commit_manifest = real
        leftovers = [
            d for d in g.glob(os.path.join(path, "data", "*"))
            if not os.path.basename(d).startswith("legacy")
        ]
        assert leftovers == [], (name, leftovers)
        assert not g.glob(os.path.join(path, "seg-*.segment.json")), name
        n = 40 if two else 20
        assert L.snapshot_read(spark, path).count() == n, name


def test_snapshot_tail_schema_evolution_and_metadata_only_window(
    spark, tmp_path
):
    """Two round-18 refinements pinned: (a) a pull window spanning an
    ADDITIVE schema evolution plans the delta with the widest (newest-
    commit) schema — commit order survives into the file list, uuid
    dir names notwithstanding; (b) a window holding only metadata-only
    commits (layout evolution) returns an empty frame with the right
    schema, resolving ONE segment for it, and still advances the
    cursor."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_set_layout,
        snapshot_tail,
    )

    path = str(tmp_path / "tbl")
    state = str(tmp_path / "cursor.json")
    snapshot_append(
        spark, spark.range(0, 10).withColumnRenamed("id", "k"), path
    )
    _, _, _, ack = snapshot_tail(spark, path, state)
    ack()
    # window spans v2 (old schema) then v3 (adds a column)
    snapshot_append(
        spark, spark.range(10, 20).withColumnRenamed("id", "k"), path
    )
    snapshot_append(
        spark,
        spark.range(20, 30)
        .withColumnRenamed("id", "k")
        .withColumn("extra", F.lit("x")),
        path,
    )
    df, lo, hi, ack2 = snapshot_tail(spark, path, state)
    assert (lo, hi) == (1, 3)
    assert "extra" in df.columns  # widest schema, not a scrambled [-1]
    rows = {r.k: r.extra for r in df.collect()}
    assert len(rows) == 20
    assert rows[25] == "x" and rows[15] is None  # NULL-filled old rows
    ack2()
    # metadata-only window: layout commit, no data
    snapshot_set_layout(path, ["k"], files_per_batch=2)
    df2, lo2, hi2, ack3 = snapshot_tail(spark, path, state)
    assert (lo2, hi2) == (3, 4) and df2.count() == 0
    assert "extra" in df2.columns
    ack3()


def test_snapshot_tail_max_files_rate_limit(spark, tmp_path):
    """Round 18 — Delta's maxFilesPerTrigger on the tail source: pulls
    cut at version boundaries under a file budget, the backlog drains
    across pulls, a single over-budget commit still drains whole, and
    a from-scratch seed backfills in version-sized steps."""
    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_tail,
    )

    path = str(tmp_path / "tbl")
    state = str(tmp_path / "cursor.json")
    # v1: 1 file, v2: 1 file, v3: 4 files (over any 2-file budget)
    snapshot_append(
        spark,
        spark.range(0, 10).withColumnRenamed("id", "k").coalesce(1),
        path,
    )
    snapshot_append(
        spark,
        spark.range(10, 20).withColumnRenamed("id", "k").coalesce(1),
        path,
    )
    snapshot_append(
        spark,
        spark.range(20, 60).withColumnRenamed("id", "k").repartition(4),
        path,
    )
    # seed with budget 2: v1+v2 fit, v3 would blow it -> cut at 2
    df, lo, hi, ack = snapshot_tail(spark, path, state, max_files=2)
    assert (lo, hi) == (0, 2)
    assert sorted(r.k for r in df.collect()) == list(range(20))
    ack()
    # next pull: the over-budget v3 drains whole (never wedges)
    df2, lo2, hi2, ack2 = snapshot_tail(spark, path, state, max_files=2)
    assert (lo2, hi2) == (2, 3)
    assert df2.count() == 40
    ack2()
    # caught up: empty pull
    df3, lo3, hi3, _ = snapshot_tail(spark, path, state, max_files=2)
    assert (lo3, hi3) == (3, 3) and df3.count() == 0


def test_recent_batches_map_lookup_without_walk(spark, tmp_path):
    """Round 18 — `snapshot_batch_version` is O(1) when the head's
    bounded `recent_batches` map is complete: a hit resolves from the
    head manifest alone and a miss concludes absence with NO manifest
    walk. Pinned by corrupting every non-head manifest — the pre-18
    walk would crash on them."""
    import glob as g
    import json
    import os

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_batch_version,
    )

    path = str(tmp_path / "tbl")
    for i in range(4):
        snapshot_append(
            spark,
            spark.range(i * 10, (i + 1) * 10).withColumnRenamed("id", "k"),
            path,
            batch_id=100 + i,
        )
    with open(os.path.join(path, "v4.manifest.json")) as f:
        head = json.load(f)
    assert head["recent_batches"] == {
        "100": 1, "101": 2, "102": 3, "103": 4
    }
    assert "recent_batches_floor" not in head  # complete map
    # corrupt every older manifest: the walk would die here
    for m in sorted(g.glob(os.path.join(path, "v*.manifest.json")))[:0]:
        pass
    for v in (1, 2, 3):
        with open(os.path.join(path, f"v{v}.manifest.json"), "w") as f:
            f.write("NOT JSON")
    assert snapshot_batch_version(path, 102) == 3  # map hit, no walk
    assert snapshot_batch_version(path, 999) is None  # O(1) absence


def test_recent_batches_eviction_floor_and_legacy_walk(spark, tmp_path):
    """Cap evictions and pre-18 history stay correct through the
    floor: evicted/legacy batch stamps resolve via the restricted
    walk, in-map ones via the head."""
    import glob as g
    import json
    import os

    import etl_cortex_spark.operators.layout as L

    # legacy table whose pre-18 manifest carries a batch stamp
    path = str(tmp_path / "tbl")
    os.makedirs(os.path.join(path, "data"))
    staged = os.path.join(path, "data", "legacy")
    spark.range(0, 10).withColumnRenamed("id", "k").coalesce(1) \
        .write.parquet(staged)
    files = sorted(g.glob(os.path.join(staged, "*.parquet")))
    L._commit_manifest(
        path, 1, {"version": 1, "files": files, "batch_id": 7}
    )
    old_cap = L._RECENT_BATCHES_CAP
    L._RECENT_BATCHES_CAP = 2
    try:
        for i in range(3):
            L.snapshot_append(
                spark,
                spark.range(10 + i, 11 + i).withColumnRenamed("id", "k"),
                path,
                batch_id=200 + i,
            )
    finally:
        L._RECENT_BATCHES_CAP = old_cap
    with open(os.path.join(path, "v4.manifest.json")) as f:
        head = json.load(f)
    # cap 2: batch 200 (v2) evicted; floor covers v1 legacy + v2
    assert head["recent_batches"] == {"201": 3, "202": 4}
    assert head["recent_batches_floor"] == 2
    assert L.snapshot_batch_version(path, 7) == 1      # legacy, walk
    assert L.snapshot_batch_version(path, 200) == 2    # evicted, walk
    assert L.snapshot_batch_version(path, 202) == 4    # map
    assert L.snapshot_batch_version(path, 999) is None
    # a replay of the evicted batch is still a no-op
    v = L.snapshot_append(
        spark,
        spark.range(99, 100).withColumnRenamed("id", "k"),
        path,
        batch_id=200,
    )
    assert v == 2


def test_recent_batches_survive_rollback_and_maintenance(spark, tmp_path):
    """The map carries through delete/compact/layout/rollback commits,
    and rollback keeps post-target batch replays no-ops (carried from
    the LATEST head, not the rollback target)."""
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_batch_version,
        snapshot_compact,
        snapshot_delete,
        snapshot_rollback,
        snapshot_set_layout,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(
        spark, spark.range(0, 20).withColumnRenamed("id", "k"), path,
        batch_id=1,
    )
    snapshot_append(
        spark, spark.range(20, 40).withColumnRenamed("id", "k"), path,
        batch_id=2,
    )
    snapshot_delete(spark, path, F.col("k") < 5)       # v3
    snapshot_compact(spark, path)                      # v4
    snapshot_set_layout(path, ["k"])                   # v5
    snapshot_rollback(spark, path, to_version=1)       # v6
    # every batch still resolves O(1) from the head map
    assert snapshot_batch_version(path, 1) == 1
    assert snapshot_batch_version(path, 2) == 2
    # replaying batch 2 after the rollback stays a no-op
    v = snapshot_append(
        spark, spark.range(99, 100).withColumnRenamed("id", "k"), path,
        batch_id=2,
    )
    assert v == 2


def test_recent_batches_map_under_racing_batch_writers(spark, tmp_path):
    """The batch map stays complete under REAL multi-writer contention:
    six batch-stamped appends racing from three threads all commit via
    rebase-and-retry, and afterwards every batch_id resolves O(1) from
    the head map (floor stays 0 — no entry was lost in any retry), so
    a replay of any of them is a no-op."""
    import json
    import os
    import threading

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_batch_version,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    errors = []

    def writer(lo):
        try:
            for i in range(2):
                snapshot_append(
                    spark,
                    spark.range(lo + i * 100, lo + i * 100 + 100)
                    .withColumnRenamed("id", "k"),
                    path,
                    batch_id=lo + i,
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(lo,)) for lo in (0, 1000, 2000)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    with open(os.path.join(path, "v6.manifest.json")) as f:
        head = json.load(f)
    assert len(head["recent_batches"]) == 6
    assert "recent_batches_floor" not in head
    versions = set()
    for b in (0, 1, 1000, 1001, 2000, 2001):
        v = snapshot_batch_version(path, b)
        assert v is not None
        versions.add(v)
        # replay is a no-op at the original version
        assert (
            snapshot_append(
                spark,
                spark.range(5).withColumnRenamed("id", "k"),
                path,
                batch_id=b,
            )
            == v
        )
    assert versions == {1, 2, 3, 4, 5, 6}
    assert snapshot_read(spark, path).count() == 600


def test_snapshot_tail_seed_skips_pending_mor_head(spark, tmp_path):
    """`snapshot_tail_seed` is the escape hatch the pending-MOR seed
    refusal points at: position the cursor at the compacted version
    and tail only what lands after it."""
    import pytest
    from pyspark.sql import functions as F

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_tail,
        snapshot_tail_seed,
    )

    path = str(tmp_path / "tbl")
    state = str(tmp_path / "cursor.json")
    snapshot_append(
        spark, spark.range(0, 30).withColumnRenamed("id", "k"), path
    )
    snapshot_delete_mor(spark, path, F.col("k") < 10, "k")
    # fresh seed refuses over the pending delete ...
    with pytest.raises(ValueError, match="pending merge-on-read"):
        snapshot_tail(spark, path, state)
    # ... compact, seed AT the compacted version, tail the rest
    v = snapshot_compact(spark, path)
    snapshot_tail_seed(path, state, v)
    snapshot_append(
        spark, spark.range(30, 45).withColumnRenamed("id", "k"), path
    )
    df, lo, hi, ack = snapshot_tail(spark, path, state)
    assert (lo, hi) == (v, v + 1)
    assert sorted(r.k for r in df.collect()) == list(range(30, 45))
    ack()
    # a bad seed version refuses loudly
    with pytest.raises(ValueError, match="does not exist"):
        snapshot_tail_seed(path, state, 99)
