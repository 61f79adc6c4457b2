"""The one table-format switch of the write path.

The writers that take a ``table_format`` (``pipeline.ingest_cards_file``,
``streaming.ingest.stream_upsert_cards``) upsert and read back through
this module, so it is the only place that knows the format:

- ``"parquet"`` — the directory-swap sink (`sink.merge_upsert`): plain
  parquet, atomic via rename, no version history, optionally
  partitioned so a merge rewrites only the partitions it touches.  The
  closest analog to the reference's plain Postgres table (reference
  ``import_cards.py:218-221`` ON CONFLICT).
- ``"ledger"`` — the versioned-manifest format (`ledger.py`): snapshot
  isolation, min/max file skipping, time travel, CDC diff and
  vacuum/compaction, reached through `ledger.py`'s own verbs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from . import ledger, sink

FORMATS = ("parquet", "ledger")


def _require(fmt: str) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unknown table_format {fmt!r}; one of {FORMATS}")


def merge_upsert_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str = "id",
    order_col: Optional[str] = None,
    table_format: str = "parquet",
    partition_by: Optional[str] = None,
) -> Optional[int]:
    """ON CONFLICT(key) DO UPDATE into the table at ``path``.  Returns
    the committed ledger version, or None for parquet.  A ledger ignores
    ``partition_by``: its file skipping subsumes the partition-pruned
    rewrite."""
    _require(table_format)
    if table_format == "ledger":
        return ledger.ledger_merge_upsert(
            spark, path, source, key=key, order_col=order_col
        )
    sink.merge_upsert(
        spark, path, source, key=key,
        partition_by=partition_by, order_col=order_col,
    )
    return None


def read_table(
    spark: SparkSession, path: str, table_format: str = "parquet"
) -> DataFrame:
    """The table's current snapshot."""
    _require(table_format)
    if table_format == "ledger":
        return ledger.ledger_read(spark, path)
    return spark.read.parquet(path)
