"""SparkSession factory.

The reference executes everything eagerly in a single pandas process
(``/root/reference/app.py:313-374``); here the session is the engine:
lazy plans, Catalyst optimization, AQE runtime re-planning.

Defaults are sized for the local[N] test harness but every knob is the
one you would also set on a real cluster:

- AQE on (coalesce partitions, skew-join handling) — at 100 TB the
  static shuffle-partition count is always wrong for some stage; AQE
  fixes it at runtime.
- ``spark.sql.shuffle.partitions`` seeded to ~cores locally; on a
  1000-executor cluster AQE's coalescing makes the initial number a
  ceiling, not a constant.
- Arrow on for every pandas interchange (toPandas, pandas_udf,
  applyInPandas) — the only sanctioned Python boundary.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-invariant.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: ``spark.sql.codegen.cache.maxEntries``: generated classes the JVM keeps
#: compiled. Spark's default, 100, is below one warehouse refresh's working
#: set (perfbench ``warehouse_sql``, 4 cores): after warm-up the 9-query
#: refresh compiles 96 classes (flagship 13, c17 8, q3 15, q5 17, c10 6,
#: c26 6, c32 8, a13 14, d01 9), its first refresh 142-147, and the oracle
#: checks add more. An LRU cache a little smaller than a cyclic working set
#: misses on every access, so each refresh recompiled all 96. The cache is
#: a Guava cache at its default concurrency of 4, which bounds each of its
#: 4 segments at a quarter of the total, so a segment evicts before the
#: total reaches the bound. At 1000 a repeated refresh compiles none.
CODEGEN_CACHE_ENTRIES = 1000

_log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "etl_cortex_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test
    harness; pass an explicit master (or set one in spark-submit) for
    cluster runs — the conf below is cluster-safe.

    The codegen cache holds ``CODEGEN_CACHE_ENTRIES`` generated classes
    instead of Spark's 100, so a repeated warehouse refresh compiles
    none (the comment on the constant has the class counts). The size
    is a static conf, which the JVM's code generator reads once, at its
    first compile: a session built elsewhere (the driver's own for
    ``__spark_entry__``) keeps the default, since ``load_table`` can
    set only runtime confs. Such a session recompiles repeated plans,
    which costs time, not correctness.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    cpus = int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else 32
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size when coalescing instead of
        # maximizing parallelism: small shuffles collapse to few tasks
        # (the Spark docs' own recommendation; measured −12% on the
        # sf0.1 headline bench, and at cluster scale 64 MB advisory
        # partitions are what you want anyway)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # parquet TIMESTAMP(NANOS) is otherwise illegal in Spark; read as
        # long and convert at the source wrapper (sources.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Spark's default 10MB, on purpose: a bigger auto-threshold lets
        # the static estimator broadcast mis-estimated JOIN INTERMEDIATES
        # (measured: a 64MB threshold broadcast a multi-million-row
        # cust⋈orders build at 10× bench scale — seconds of driver-side
        # hash-building). True dimensions are broadcast EXPLICITLY via
        # F.broadcast hints in the query builders; AQE upgrades the rest
        # at runtime from observed, not estimated, sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SHIPPED_APPS: set = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make ``etl_cortex_spark`` importable on this session's PYTHON
    WORKERS regardless of where the driver process was launched.

    Module-level functions referenced from ``mapInPandas``/UDF closures
    are pickled BY REFERENCE (cloudpickle's rule for importable
    functions), so the worker must import the package. A session whose
    driver ran from the repo root gets that for free (cwd is on the
    worker's path); the driver harness and any embedding application
    may launch from anywhere — round-15 verify: the four media
    decoders that share module-level kernels (`baseline_jpeg_pixels`,
    the MP2/MP3 bit readers) failed with ModuleNotFoundError under an
    out-of-repo vanilla session. The fix is the standard Spark one:
    zip the package once (content-addressed by file mtimes, cached in
    the temp dir) and ``addPyFile`` it — workers put the zip on their
    sys.path at the next task. Idempotent per application; a few ms
    after the first call. On a real cluster this is exactly
    ``--py-files``; doing it lazily here means NO caller has to
    remember it."""
    import hashlib
    import os
    import tempfile
    import zipfile

    try:
        app = spark.sparkContext.applicationId
    except Exception as e:
        _log.warning("package not shipped to Python workers, no application id: %r", e)
        return
    if app in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(pkg_dir)
        for f in fn
        if f.endswith(".py")
    )
    sig = hashlib.md5(
        "|".join(f"{p}:{os.path.getmtime(p)}" for p in sources).encode()
    ).hexdigest()[:10]
    zpath = os.path.join(tempfile.gettempdir(), f"etl_cortex_spark_{sig}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            root = os.path.dirname(pkg_dir)
            for p in sources:
                zf.write(p, os.path.relpath(p, root))
        os.replace(tmp, zpath)  # atomic vs concurrent builders
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception as e:
        # already added under this name in this app: same content
        _log.warning("package zip %s not added to app %s: %r", zpath, app, e)
    _SHIPPED_APPS.add(app)
