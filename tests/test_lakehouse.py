"""One merge/idempotency contract for both table formats: the lakehouse
seam (`ingest/lakehouse.py`) must give identical table contents for the
same op sequence on "parquet" and "ledger", and every writer that takes a
``table_format`` must reject an unknown one through it before any work
starts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mtg_bulk_database_spark.ingest import lakehouse
from mtg_bulk_database_spark.ingest.pipeline import ingest_cards_file
from mtg_bulk_database_spark.streaming.ingest import stream_upsert_cards


def _rows(spark, pairs):
    return spark.createDataFrame([Row(id=i, v=v) for i, v in pairs])


def _contents(spark, path, fmt):
    df = lakehouse.read_table(spark, path, table_format=fmt)
    return sorted((r["id"], r["v"]) for r in df.collect())


@pytest.mark.parametrize("fmt", lakehouse.FORMATS)
def test_merge_upsert_contract(spark, tmp_path, fmt):
    path = str(tmp_path / f"t_{fmt}")
    # create
    lakehouse.merge_upsert_into(
        spark, path, _rows(spark, [(1, "a"), (2, "b")]), table_format=fmt
    )
    assert _contents(spark, path, fmt) == [(1, "a"), (2, "b")]
    # upsert: update 2, insert 3
    lakehouse.merge_upsert_into(
        spark, path, _rows(spark, [(2, "B"), (3, "c")]), table_format=fmt
    )
    assert _contents(spark, path, fmt) == [(1, "a"), (2, "B"), (3, "c")]
    # idempotency: same batch twice == once
    lakehouse.merge_upsert_into(
        spark, path, _rows(spark, [(2, "B"), (3, "c")]), table_format=fmt
    )
    assert _contents(spark, path, fmt) == [(1, "a"), (2, "B"), (3, "c")]


@pytest.mark.parametrize("fmt", lakehouse.FORMATS)
def test_merge_last_wins_within_batch(spark, tmp_path, fmt):
    path = str(tmp_path / f"lw_{fmt}")
    src = spark.createDataFrame(
        [Row(id=1, v="old", seq=1), Row(id=1, v="new", seq=2)]
    )
    lakehouse.merge_upsert_into(
        spark, path, src, order_col="seq", table_format=fmt
    )
    df = lakehouse.read_table(spark, path, table_format=fmt)
    assert [(r["id"], r["v"]) for r in df.collect()] == [(1, "new")]


def test_unknown_format_raises_before_any_work(spark, tmp_path):
    """The seam, the batch ingest and the streaming upsert all refuse an
    unknown format with ValueError; nothing is written and no stream is
    left running."""
    table = tmp_path / "t"
    with pytest.raises(ValueError, match="unknown table_format"):
        lakehouse.merge_upsert_into(
            spark, str(table), _rows(spark, [(1, "a")]), table_format="hudi"
        )
    raw = tmp_path / "cards.json"
    raw.write_text("[]")
    with pytest.raises(ValueError, match="unknown table_format"):
        ingest_cards_file(spark, str(raw), str(table), table_format="hudi")
    landing = tmp_path / "landing"
    landing.mkdir()
    with pytest.raises(ValueError, match="unknown table_format"):
        stream_upsert_cards(
            spark, str(landing), str(table), str(tmp_path / "ckpt"),
            table_format="hudi",
        )
    assert spark.streams.active == []
    assert not table.exists()
