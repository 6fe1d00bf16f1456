"""Sink roundtrips as oracle-paired queries (SURVEY §2 rows B9, B10, C5).

A write is not oracle-comparable by itself, so each entry writes with
the engine's sink, reads its own output back, and returns that — the
oracle is a plain SELECT over the source table. A hash match therefore
proves the write+read cycle is lossless (values, types, NULLs), which
is the property a sink owes its users.

Outputs land in the entry's `layout.scratch_dir`, emptied on each call
and reclaimed once the writing process is dead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_cortex_spark.operators.layout import scratch_dir
from etl_cortex_spark.queries import T, query
from etl_cortex_spark.sinks.files import write_csv, write_parquet


@query(
    "sink_parquet_partitioned_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey <= 5000
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/B10: partitioned parquet write, read back through the
    partition-discovery path (o_orderstatus becomes a directory key —
    downstream scans get partition pruning on it)."""
    src = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 5000)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )
    path = scratch_dir(sf_dir, "sink_parquet_partitioned_roundtrip")
    write_parquet(src, path, partition_by=["o_orderstatus"])
    back = spark.read.parquet(path)
    # partition columns come back as the last column; restore order and
    # the original type (directory keys read as string)
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
    )


@query(
    "sink_csv_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def sink_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: CSV write + schema-preserving read-back."""
    src = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_dir(sf_dir, "sink_csv_roundtrip")
    write_csv(src, path, coalesce_to=1)
    return (
        spark.read.option("header", True)
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .csv(path)
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    """,
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write + read-back (Spark's second first-class columnar
    format; same lossless-roundtrip contract as the parquet sink).
    Rounding pinned on both sides: ORC stores the double exactly, the
    round is only hash-stability discipline."""
    src = T(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.round("s_acctbal", 2).alias("s_acctbal")
    )
    path = scratch_dir(sf_dir, "sink_orc_roundtrip")
    src.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "sink_json_roundtrip",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def sink_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write + schema-enforced read-back (the interchange
    sink: every row a self-describing document)."""
    src = T(spark, sf_dir, "region").select("r_regionkey", "r_name")
    path = scratch_dir(sf_dir, "sink_json_roundtrip")
    src.write.mode("overwrite").json(path)
    return spark.read.schema("r_regionkey bigint, r_name string").json(path)


@query(
    "sink_text_gzip_roundtrip",
    oracle="""
    SELECT count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def sink_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text corpus roundtrip — the line-per-document format LLM
    corpora actually ship in (one doc per line, gzip-compressed; gzip
    is unsplittable, so shard parallelism = file count, which the
    writer controls via the upstream partitioning). Write → read →
    corpus stats must equal the source table's (lossless: corpus text
    contains no newlines by construction)."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    path = scratch_dir(sf_dir, "sink_text_gzip_roundtrip")
    docs.select("text").write.mode("overwrite").option(
        "compression", "gzip"
    ).text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("value")).alias("n_chars"),
    )


@query(
    "sink_xml_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def sink_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML roundtrip via Spark 4's built-in XML source (the first
    Spark release where XML needs no external package). Write the
    nation table as <row> elements, read it back with an EXPLICIT
    schema (XML carries no types; inference would hand back strings
    or misread empties) — hash match proves the cycle is lossless.
    XML is row-per-element text: splittable by element at scale the
    same way json-lines is by line."""
    src = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_dir(sf_dir, "sink_xml_roundtrip")
    src.write.mode("overwrite").option("rowTag", "row").format("xml").save(path)
    return (
        spark.read.schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .option("rowTag", "row")
        .format("xml")
        .load(path)
    )


@query(
    "sink_parquet_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey <= 2500
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey > 2500 AND o_orderkey <= 5000
    """,
)
def sink_parquet_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet table: an early batch written
    WITHOUT a column, a later batch WITH it, both appended to one
    table directory; `mergeSchema` reads the union schema and
    back-fills NULL for the early files — the additive-column
    migration every long-lived ingest eventually performs. The oracle
    is the source expression with the NULL back-fill made explicit,
    so a hash match proves the merged read is exactly the losslessly
    widened table. At scale mergeSchema's footer sweep is the cost —
    production pins the merged schema in a catalog; the read path
    here proves the engine semantics."""
    path = scratch_dir(sf_dir, "sink_parquet_schema_evolution")
    src = T(spark, sf_dir, "orders")
    v1 = src.filter(F.col("o_orderkey") <= 2500).select("o_orderkey", "o_custkey")
    v2 = src.filter(
        (F.col("o_orderkey") > 2500) & (F.col("o_orderkey") <= 5000)
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    v1.write.mode("append").parquet(path)
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "pyds_synthetic_docs_scan",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 500)) AS doc_id),
    v AS (SELECT ['key','agg','row','scan','slow','fast','table','value',
                  'part','hash','merge','batch','spark','line','sort','window'] AS vocab,
                 ['en','es','fr'] AS langs)
    SELECT doc_id,
           array_to_string(
             list_transform(range(0, 5 + doc_id % 10),
                            j -> vocab[CAST((doc_id * 31 + j * 7) % 16 AS INT) + 1]),
             ' ') AS text,
           langs[CAST(doc_id % 3 AS INT) + 1] AS lang
    FROM ids, v ORDER BY doc_id
    """,
)
def pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource end-to-end: a custom V2 source
    (`sources/pyds.py`) planned as 8 InputPartitions, each executor
    materializing only its own id-range — the contract a paginated-API
    or shard-ranged custom source implements. The content is a closed
    form of doc_id, so the oracle REGENERATES every row in SQL: a hash
    match proves schema declaration, option passing, partition
    planning, and per-partition iteration all round-trip. (Classes are
    defined inside a factory → cloudpickle ships them by value;
    vanilla-session executors never import this package.)"""
    from etl_cortex_spark.sources.pyds import register

    register(spark)
    n = 500
    df = (
        spark.read.format("synthetic_docs")
        .option("n", n)
        .option("splits", 8)
        .load()
    )
    return df


@query(
    "pyds_stream_synthetic_docs",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 200)) AS doc_id),
    v AS (SELECT ['key','agg','row','scan','slow','fast','table','value',
                  'part','hash','merge','batch','spark','line','sort','window'] AS vocab,
                 ['en','es','fr'] AS langs)
    SELECT doc_id,
           array_to_string(
             list_transform(range(0, 5 + doc_id % 10),
                            j -> vocab[CAST((doc_id * 31 + j * 7) % 16 AS INT) + 1]),
             ' ') AS text,
           langs[CAST(doc_id % 3 AS INT) + 1] AS lang
    FROM ids, v ORDER BY doc_id
    """,
)
def pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Python DataSource end-to-end (Spark 4
    `SimpleDataSourceStreamReader`): offset-tracked micro-batches of
    the closed-form corpus driven through a memory sink; the oracle
    regenerates the drained prefix in SQL. This bounded run drains in
    one micro-batch (availableNow snapshots the prefetched offset);
    the multi-batch offset walk and the deterministic
    `readBetweenOffsets` replay — the exactly-once contract — are
    exercised in pytest with a processing-time trigger."""
    from etl_cortex_spark.sources.pyds import register_stream
    from etl_cortex_spark.streaming.events import run_to_memory

    register_stream(spark)
    stream = (
        spark.readStream.format("synthetic_docs_stream")
        .option("n", 200)
        .option("batch", 200)
        .load()
    )
    return run_to_memory(stream, "append")


@query(
    "pyds_stream_snapshot_changes",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           round(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey
    """,
)
def pyds_snapshot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING READ of the snapshot table (round 15 — Delta's
    `readStream` analog on the D102 protocol, closing the loop: round
    14 streamed WRITES into the table exactly-once; this streams READS
    out of it): a Python streaming DataSource whose offsets are
    snapshot VERSIONS — the engine's checkpoint IS a manifest pointer
    — delivering per micro-batch exactly the rows ADDED between the
    committed version and the head (the `snapshot_changes` diff with
    the same append-only lineage check; a COW/MOR commit in range
    raises rather than double-counting). `readBetweenOffsets` replays
    any committed range deterministically from the immutable
    manifests, so crash-recovery re-reads are byte-identical — the
    exactly-once contract inherited from the snapshot design rather
    than built beside it. The table here lands in three appends and a
    bounded availableNow run drains all of them; the oracle replays
    the union as plain SQL. Pytest drives the multi-batch walk: a
    second stream pinned to start_version sees ONLY later commits."""
    from etl_cortex_spark.operators.layout import snapshot_append
    from etl_cortex_spark.sources.pyds import register_snapshot_stream
    from etl_cortex_spark.streaming.events import run_to_memory

    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 600).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    path = scratch_dir(sf_dir, "pyds_stream_snapshot_changes")
    for third in (0, 1, 2):
        snapshot_append(
            spark, orders.filter(F.col("o_orderkey") % 3 == third), path
        )
    register_snapshot_stream(spark)
    stream = (
        spark.readStream.format("snapshot_changes_stream")
        .option("path", path)
        .load()
    )
    return run_to_memory(stream, "append")


@query(
    "pyds_stream_snapshot_tail",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_eid
    FROM events WHERE event_id % 4 < 3
    """,
)
def pyds_tail_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`snapshot_tail` AS A REGISTERED STREAMING DATASOURCE (round 19
    — the r18 verdict's #4): ``spark.readStream.format(
    "snapshot_tail_stream")`` + ``trigger(availableNow)`` drives the
    tail's cursor + rate-limit contract end-to-end through the
    ENGINE — offsets are snapshot versions (the checkpoint replaces
    the cursor file), ``max_files=1`` forces the backlog to drain in
    MULTIPLE rate-limited micro-batches, and each micro-batch commits
    downstream through ``foreachBatch`` with
    ``snapshot_append(batch_id=<engine batch id>)`` — the exactly-once
    ledger composition the sinks use, now fed by the engine's own
    replay semantics. The three upstream slices land as one-file
    appends, so the budget cuts at every version boundary; the run
    loops availableNow queries (one pull each, the Simple-reader
    prefetch contract) against the SAME checkpoint until the offset
    stops advancing, exactly a restarting production consumer. The
    oracle is the plain batch aggregate of everything appended: a
    hash match proves the offset walk, the rate-limit cuts, the
    checkpoint resume and the ledger dedup together lost and doubled
    nothing."""
    import os

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
    )
    from etl_cortex_spark.sources.pyds import register_snapshot_tail_stream

    ev = T(spark, sf_dir, "events").select("user_id", "event_id")
    base = scratch_dir(sf_dir, "pyds_stream_snapshot_tail")
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    ckpt = os.path.join(base, "ckpt")
    for q in (0, 1, 2):
        snapshot_append(
            spark,
            ev.filter(F.col("event_id") % 4 == q).coalesce(1),
            src,
        )
    register_snapshot_tail_stream(spark)

    def commit(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        snapshot_append(spark, batch_df, dst, batch_id=int(batch_id))

    # Loop until the committed offset reaches the table head (round
    # 19): the fixed 6-run loop paid 2-3 full availableNow streaming-
    # query startups past quiescence — each is seconds of engine
    # setup for a provably empty pull. The committed offset IS the
    # engine's checkpoint (offsets/<max committed batch>'s JSON line,
    # written by the offset log), so "offset == head version" is the
    # same condition the 6th run would observe, checked without
    # starting a query. Cap unchanged at 6 — the drain needs 3 runs
    # (max_files=1, three one-file appends).
    import json as _json

    from etl_cortex_spark.operators.layout import snapshot_meta

    def _committed_version() -> int:
        cdir = os.path.join(ckpt, "commits")
        if not os.path.isdir(cdir):
            return -1
        done = [int(f) for f in os.listdir(cdir) if f.isdigit()]
        if not done:
            return -1
        with open(os.path.join(ckpt, "offsets", str(max(done)))) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        return int(_json.loads(lines[-1])["version"])

    head = snapshot_meta(src)["version"]
    # Build the streaming DataFrame ONCE, outside the run loop (round
    # 20, guide §4 driver boundary): each `.load()` spawns a fresh
    # Python DataSource PLANNER worker to re-resolve the schema —
    # measured ~0.2 s warm / ~1.5 s cold per call — and restarting a
    # new query from the same lazy streaming frame is exactly the
    # restarting-consumer semantics (each start() plans its own scan
    # against the checkpoint). The per-QUERY cost that remains is the
    # engine's non-daemon Python runner spin-up, which no driver code
    # controls.
    stream = (
        spark.readStream.format("snapshot_tail_stream")
        .option("path", src)
        .option("max_files", 1)
        .load()
    )
    for _ in range(6):
        if _committed_version() >= head:
            break
        q = (
            stream.writeStream.foreachBatch(commit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        snapshot_read(spark, dst)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_eid"),
        )
    )


@query(
    "pyds_stream_snapshot_tail_dist",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_eid
    FROM events
    """,
)
def pyds_tail_stream_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-PARALLEL tail DataSource end-to-end (round 19 — the
    executor-side upgrade of `pyds_stream_snapshot_tail`): the full
    `DataSourceStreamReader` plans ONE InputPartition per file added
    in the offset window, so each micro-batch's rows are read BY THE
    EXECUTORS in parallel — the rows never pass through the driver,
    which is the shape a 100 TB backlog needs (the Simple reader
    stays the rate-limited control-plane variant). Two runs against
    ONE checkpoint: the first drains a three-slice backlog, a fourth
    slice lands, and the second run delivers ONLY it (the engine's
    offset log IS the manifest version — checkpoint resume proven by
    the hash match, since a re-delivery would double rows in the
    ledger-guarded downstream and a skip would lose them).
    foreachBatch commits with `snapshot_append(batch_id=<engine
    id>)`, the sinks' exactly-once composition."""
    import os

    from etl_cortex_spark.operators.layout import (
        snapshot_append,
        snapshot_read,
    )
    from etl_cortex_spark.sources.pyds import (
        register_snapshot_tail_stream_dist,
    )

    ev = T(spark, sf_dir, "events").select("user_id", "event_id")
    base = scratch_dir(sf_dir, "pyds_stream_snapshot_tail_dist")
    src = os.path.join(base, "src")
    dst = os.path.join(base, "dst")
    ckpt = os.path.join(base, "ckpt")
    for q in (0, 1, 2):
        snapshot_append(
            spark, ev.filter(F.col("event_id") % 4 == q).coalesce(1), src
        )
    register_snapshot_tail_stream_dist(spark)

    def commit(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        snapshot_append(spark, batch_df, dst, batch_id=int(batch_id))

    # one planner round-trip for both runs (round 20 — the same
    # hoisted-load form as the Simple-reader twin above); each start()
    # still plans its own scan against the checkpoint
    stream = (
        spark.readStream.format("snapshot_tail_stream_dist")
        .option("path", src)
        .load()
    )

    def run_once():
        q = (
            stream.writeStream.foreachBatch(commit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # drains the three-slice backlog in one offset window
    snapshot_append(
        spark, ev.filter(F.col("event_id") % 4 == 3).coalesce(1), src
    )
    run_once()  # checkpoint resume: delivers ONLY the fourth slice
    return (
        snapshot_read(spark, dst)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_eid"),
        )
    )


@query(
    "pyds_batch_snapshot_pruned",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_orderkey <= (
        SELECT CAST(FLOOR(max(l_orderkey) / 2) AS BIGINT) FROM lineitem
    )
    GROUP BY l_returnflag
    """,
)
def pyds_batch_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH snapshot DataSource with stats-pruned scans end-to-end
    (round 19): lineitem lands in a snapshot table as four orderkey-
    range slices with manifest zone maps (`stats_col`), then the query
    reads it back through `spark.read.format("snapshot_batch")` with a
    half-range predicate — Spark's filter-pushdown hook hands the
    predicate to the source, whose `partitions()` prunes the upper-
    half files from the MANIFEST alone and whose executor-side tasks
    re-apply it as parquet row-group filters. The aggregate over the
    pruned scan must equal plain SQL over the whole table — pruning
    that changed a result would hash-mismatch here (the conservative-
    keep contract, pinned structurally in tests/test_layout_r19.py)."""
    from etl_cortex_spark.operators.layout import snapshot_append
    from etl_cortex_spark.sources.pyds import register_snapshot_batch

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    mink, maxk = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    cut = maxk // 2
    path = scratch_dir(sf_dir, "pyds_batch_snapshot_pruned")
    # slices are (lo, hi]: start below the true minimum (sf lineitem
    # keys start at 0, not 1) so the first slice keeps every low row
    bounds = [mink - 1, maxk // 4, cut, (3 * maxk) // 4, maxk]
    for lo, hi in zip(bounds, bounds[1:]):
        snapshot_append(
            spark,
            li.filter(
                (F.col("l_orderkey") > lo) & (F.col("l_orderkey") <= hi)
            ).coalesce(1),
            path,
            stats_col=["l_orderkey"],
        )
    register_snapshot_batch(spark)
    # the pushdown hook is opt-in (and LOUD when a reader implements
    # pushFilters with it off) — runtime-settable SQLConf
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return (
        spark.read.format("snapshot_batch")
        .option("path", path)
        .load()
        .filter(F.col("l_orderkey") <= cut)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
