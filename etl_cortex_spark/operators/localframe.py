"""Small, driver-sized frames: JVM-local literals for driver-built
model state, and the single-partition sort for bounded outputs.

``spark.createDataFrame(python_rows, ...)`` takes the pickled-RDD path
(``applySchemaToPythonRDD``): the rows are parallelized into
``defaultParallelism`` slices and EVERY downstream action launches a
Python worker per slice just to deserialize them — measured 2-6 s per
action for a 5-row frame on a vanilla ``local[32]`` session (guide §4:
the JVM↔Python boundary, paid here by metadata-sized frames). Arrow
(`spark.sql.execution.arrow.pyspark.enabled`) fixes the transfer but
is off in a vanilla session and still plans a distributed scan.

``local_df`` builds the same frame as a pure-JVM literal instead:
``range(1).select(inline(array(struct-literals)))`` — one partition,
whole-stage codegen, no Python workers, job-floor cost per action.
Intended for k-row driver state (model weights, manifests, recall
verdicts, dimension ladders); falls back to ``createDataFrame`` above
``_MAX_LITERAL_ROWS`` where expression-tree size would start to cost
more in planning than the Python workers do in execution.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: the largest output a single-task local sort accepts: ~100 MB of
#: rows, one task with headroom
LOCAL_SORT_MAX_ROWS = 100_000

#: above this the literal expression tree's planning cost outweighs
#: the Python-worker savings; createDataFrame also keeps driver memory
#: flat for genuinely large row sets
_MAX_LITERAL_ROWS = 2000


def local_df(spark: SparkSession, rows: Sequence, schema: str | StructType) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (sequences of plain Python
    scalars) with ``schema`` (DDL string or StructType), built as a
    JVM literal — no Python-RDD path, no Python workers on action."""
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    fields = st.fields
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        )
    if len(rows) > _MAX_LITERAL_ROWS:
        return spark.createDataFrame(rows, st)
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, fields, strict=True)
            ]
        )
        for row in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def bounded_sort(df: DataFrame, *cols, max_rows: int) -> DataFrame:
    """``df`` in one partition, sorted by ``cols``: the same total order
    as ``df.orderBy(*cols)`` for an output of at most ``max_rows`` rows.

    A global ``orderBy`` plans a range exchange, and the range
    partitioner first runs a separate sampling job over the exchange's
    child — re-executing a whole aggregate, HOF chain or decode. For an
    output that fits one task with headroom the single-partition sort
    skips that job. ``max_rows`` is the output bound the caller knows
    from its own plan: a grouping key's domain (3 return flags,
    5 priorities, 12 months), a ``k``, or a sample size. An output that
    grows with the corpus has no such bound; it calls ``orderBy``.

    ``repartition(1)`` rather than ``coalesce(1)``: coalesce has no
    shuffle boundary, so it would also collapse the child's last stage
    (an aggregate's merge tasks, a verify join, a scan) into the one
    task. c23 at sf0.1 measured 1.34 s with ``orderBy``, 1.00 s with
    ``coalesce(1)`` and 0.62 s with ``repartition(1)``.

    Raises ``ValueError`` when ``max_rows`` exceeds
    ``LOCAL_SORT_MAX_ROWS``: such an output keeps the distributed
    ``orderBy``."""
    if max_rows > LOCAL_SORT_MAX_ROWS:
        raise ValueError(
            f"bounded_sort: max_rows={max_rows} exceeds "
            f"LOCAL_SORT_MAX_ROWS={LOCAL_SORT_MAX_ROWS}; use orderBy"
        )
    return df.repartition(1).sortWithinPartitions(*cols)
