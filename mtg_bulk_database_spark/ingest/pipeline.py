"""End-to-end ingest pipelines (SURVEY §3 EP1/EP2, Spark lifecycle):

bulk file → schema'd scan → transform layer → MERGE sink, with the
freshness watermark gating re-ingest. The reference's single-threaded
loop (``import_cards.py:341-377``) becomes one distributed job; its 10k
micro-batches fall out of partitioning (SURVEY §2.4 K3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.scryfall import read_cards_json, read_sets_dataframe
from .lakehouse import merge_upsert_into, read_table
from .sink import merge_upsert, should_refresh, write_watermark
from .transform import prepare_cards, prepare_sets


def ingest_cards_file(
    spark: SparkSession,
    src_path: str,
    table_path: str,
    strict_layout: bool = False,
    partition_by: str | None = "set",
    table_format: str = "parquet",
) -> DataFrame:
    """EP1 — cards ingest: read → transform → upsert. Partitioning by
    ``set`` (~900 values) bounds merge write-amplification and aligns
    with the per-set analytics join (Q10). Returns the prepared frame
    (lazily re-readable from the table path).

    ``table_format`` picks the table format through
    ``ingest/lakehouse.py``; ``"ledger"`` commits a versioned-manifest
    snapshot instead of the directory swap and ignores ``partition_by``.
    """
    raw = read_cards_json(spark, src_path)
    prepared = prepare_cards(raw, strict_layout=strict_layout)
    merge_upsert_into(
        spark, table_path, prepared, key="id",
        table_format=table_format, partition_by=partition_by,
    )
    return read_table(spark, table_path, table_format)


def ingest_sets(
    spark: SparkSession,
    table_path: str,
    fetch: Callable[[str], dict] | None = None,
) -> DataFrame:
    """EP2 — sets ingest: REST → tiny DataFrame → upsert (no
    partitioning; ~10³ rows)."""
    kwargs = {"fetch": fetch} if fetch is not None else {}
    raw = read_sets_dataframe(spark, **kwargs)
    prepared = prepare_sets(raw)
    merge_upsert(spark, table_path, prepared, key="id", partition_by=None)
    return spark.read.parquet(table_path)


def refresh_if_stale(
    spark: SparkSession,
    meta_path: str,
    source: str,
    server_updated_at: str,
    do_ingest: Callable[[], None],
) -> bool:
    """S2 — incremental-load gate: skip the whole pipeline when the
    server's bulk data hasn't changed; stamp the watermark after a
    successful ingest (replaces the mtime trick,
    import_cards.py:313-336)."""
    if not should_refresh(spark, meta_path, source, server_updated_at):
        return False
    do_ingest()
    write_watermark(spark, meta_path, source, server_updated_at)
    return True
