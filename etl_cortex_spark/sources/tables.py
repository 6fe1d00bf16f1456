"""Test-data table registry.

The reference's only "catalog" is three DuckDB relation names
(bronze/silver/gold, ``/root/reference/README.md:40``). Here the
catalog is Spark temp views over the driver-provided parquet tables
(TESTDATA.md): a parquet scan per table, so Catalyst gets predicate
pushdown, column pruning, and (on partitioned layouts) partition
pruning for free.

At 100 TB these would be external tables over partitioned/bucketed
parquet; the API is identical — only the paths change.
"""

from __future__ import annotations

import logging
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at any realistic scale —
#: used by query builders to hint the join strategy explicitly.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_log = logging.getLogger(__name__)


@lru_cache(maxsize=256)
def _nanos_ts_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — illegal for Spark's
    vectorized reader, so the session reads them as raw nanosecond longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and this wrapper restores
    TimestampType at microsecond precision. Footer-only inspection:
    driver-side, no data read.

    Environments differ: the driver has generated this data with both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) footers across rounds, so
    nothing may assume one or the other — the footer decides. Returns
    () when every timestamp column is already µs/ms (Spark reads those
    natively; no conversion needed)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            inner = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if not inner:
                return ()
            f = os.path.join(path, inner[0])
        schema = pq.read_schema(f)
        return tuple(
            fld.name
            for fld in schema
            if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns"
        )
    except Exception as e:
        _log.warning(
            "parquet footer of %s not read, nanosecond timestamps load as longs: %r",
            path,
            e,
        )
        return ()


#: (applicationId, abspath, mtime_ns) → DataFrame. A DataFrame is an
#: immutable plan; rebuilding one for the same files re-lists the
#: directory and re-reads the footer schema on the DRIVER (~0.1 s per
#: call — measured round 5), which a real deployment pays ONCE at
#: catalog registration, not per query. The mtime key invalidates on
#: rewrite (overwrite recreates the file/dir → new mtime), and the
#: applicationId key drops entries from stopped sessions.
_DF_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table. No action is triggered.

    Nanosecond-timestamp columns come back as TimestampType truncated to
    microseconds (integer ``div 1000`` — float division would lose
    precision above 2^53 ns).

    The built DataFrame (scan relation + its file index) is memoized
    per (session, path, mtime) — the catalog posture: file listing is
    table-registration state, not per-query work.
    """
    # Defensive like the confs below: ship the package to the Python
    # workers when the caller's session wasn't launched from the repo
    # (round-15 verify — mapInPandas kernels pickle by reference).
    # Idempotent per application, a dict probe after the first call.
    from etl_cortex_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        app = spark.sparkContext.applicationId
        key = (app, os.path.abspath(path), os.stat(path).st_mtime_ns)
    except Exception as e:
        _log.warning("table %s not memoized, its scan is rebuilt per call: %r", path, e)
        key = None
    if key is not None and key in _DF_CACHE:
        return _DF_CACHE[key]
    # Defensive: the caller may hand us a session built elsewhere (the
    # driver does). Both confs are runtime-settable and required for
    # correct reads/oracle parity regardless of who built the session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Right-size shuffles when the caller's session still has the 200
    # default: AQE coalesces most stages anyway, but stateful streaming
    # disables AQE and would run 200 tiny tasks per stage.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    df = spark.read.parquet(path)
    for c in _nanos_ts_cols(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if key is not None:
        if len(_DF_CACHE) > 128:  # drop stopped sessions' entries first
            for k in [k for k in _DF_CACHE if k[0] != key[0]] or list(_DF_CACHE):
                _DF_CACHE.pop(k, None)
        _DF_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface, SURVEY B11/C).

    Returns the DataFrames so callers can also use the DataFrame API.
    """
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
