"""Distributed file sinks (SURVEY §2 rows B9, B10, C5).

The reference only exports xlsx from memory (``app.py:367-374``) and
*declares* CSV/Parquet export (``README.md:39``, pyarrow pinned at
``requirements.txt:7``). Here the declared surface is the real one:
Spark's native writers, which scale out — every task writes its own
part file, no driver bottleneck.

Scale notes:
- ``partition_by`` columns become directory partitions → downstream
  readers get partition pruning for free (C5).
- ``coalesce_to`` exists for the human-sized export case (one file to
  hand to someone); leave it None for the 100 TB case — forcing one
  writer task on big data is the classic anti-pattern.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def _prep(df: DataFrame, coalesce_to: int | None) -> DataFrame:
    return df.coalesce(coalesce_to) if coalesce_to else df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    coalesce_to: int | None = None,
) -> None:
    """B10/C5: parquet sink, optionally directory-partitioned."""
    writer = _prep(df, coalesce_to).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    coalesce_to: int | None = None,
) -> None:
    """B9: CSV sink. Complex types (arrays/structs/maps) are not CSV-
    representable; callers project/serialize them first (to_json)."""
    _prep(df, coalesce_to).write.mode(mode).option("header", header).csv(path)

