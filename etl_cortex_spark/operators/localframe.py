"""Small, driver-sized frames: JVM-local literals for driver-built
model state.

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

