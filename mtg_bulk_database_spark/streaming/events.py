"""Structured Streaming over the events stream (beyond-parity extension,
SURVEY §2.6 "Streaming": the reference has no event streams — its
"streaming" is memory-bounded file parsing — so this is the engine
surface a Spark-native deployment adds).

Batch/stream unification is the design point: the windowed and
sessionized aggregations here are the SAME logical operators as the
batch registry queries (q23 tumbling window, q24 sessionize) — one
semantics, two execution modes. Late data is governed by watermarks;
state stays bounded because the watermark lets Spark drop closed
windows/sessions.

At scale: source = Kafka/files on object storage; sink = Delta with
exactly-once via checkpointing. Here: file source over the testdata
parquet, memory/parquet sinks, ``availableNow`` trigger (process all
available input, then stop — the incremental-batch pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ingest import _drain, _file_stream

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream with an explicit schema (streaming readers
    must never infer). One file = one micro-batch increment."""
    return _file_stream(spark, src_dir, EVENTS_SCHEMA)


def stream_tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts with late-data tolerance =
    ``watermark``. State per (window × event_type); closed windows are
    evicted once the watermark passes — bounded state at any scale."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization via the built-in ``session_window`` —
    the streaming twin of the batch lag/cumsum sessionizer (q24). State
    is one open session per user; the watermark closes sessions whose
    gap has definitively expired."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_available_now(
    sdf: DataFrame,
    query_name: str,
    timeout_s: int = 120,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain all available input (``availableNow`` trigger) into an
    in-memory table and return it as a DataFrame — the test/demo sink.
    Production swaps ``format("delta")`` + checkpointLocation.

    Output-mode semantics matter for late data (verified empirically):
    - ``complete``: full-recompute semantics — window aggregations count
      even very late rows; the watermark only bounds *session* merges.
      Use when the drained result must equal the batch query.
    - ``append``: only watermark-finalized windows emit, and rows later
      than the watermark are dropped — the bounded-state production
      semantics; windows still open at end-of-input are withheld.
    """
    _drain(
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        timeout_s,
        f"streaming query {query_name!r}",
    )
    return sdf.sparkSession.table(query_name)
