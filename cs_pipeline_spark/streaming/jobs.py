"""Structured-Streaming job builders over the events schema.

Real ``readStream`` pipelines around the shared transformations in
``streaming/windows.py``. At scale the source is Kafka/Kinesis; here
a file source replays parquet micro-batches — the transformation and
sink wiring are identical either way, only ``format()`` changes.

Late data: every job bounds state with ``withWatermark`` before the
stateful op. Tumbling/sliding/session aggregations then emit finalized
windows in append mode once the watermark passes the window end;
``dropDuplicates`` evicts seen-key state past the watermark.

Custom stateful operators beyond windows (counters, sessionization
with business rules) belong in ``applyInPandasWithState`` — the
``dedup_earliest`` shape shows the aggregation-based alternative that
needs no custom state and replays idempotently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from cs_pipeline_spark.streaming import windows as W

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over parquet micro-batches (µs timestamps —
    write with ``tables.load``'s normalized ts, not the raw ns file)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def tumbling_job(events: DataFrame) -> DataFrame:
    return W.tumbling_counts(W.with_watermark(events))


def session_job(events: DataFrame) -> DataFrame:
    return W.session_stats(W.with_watermark(events))


def dedup_job(events: DataFrame) -> DataFrame:
    """Watermarked exact-once dedup on event_id (state evicted past the
    watermark — bounded memory under unbounded input)."""
    return W.with_watermark(events).dropDuplicates(["event_id"])


def to_memory_sink(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> DataStreamWriter:
    """Memory sink for tests; swap for parquet/kafka sinks in prod."""
    return df.writeStream.format("memory").queryName(name).outputMode(
        output_mode
    )


def enrich_job(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join job: the static dimension is re-resolved per
    micro-batch; no watermark needed (stateless)."""
    return W.enrich_with_customers(events, customers)


def interval_join_job(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: split one watermarked source into
    error and click substreams and band-join them. Both sides carry
    watermarks, so the click state store is bounded to
    lookback + watermark — the canonical attribution-join shape."""
    wm = W.with_watermark(events)
    errors = wm.filter(F.col("event_type") == "error")
    clicks = wm.filter(F.col("event_type") == "click")
    return W.error_click_attribution(errors, clicks)


def interval_join_left_job(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join. Null-padded rows for
    unmatched errors are emitted only once the watermark passes the
    join band (no future click can match) — so at end-of-stream,
    errors newer than max-event-time − watermark − lookback are still
    held in state, unemitted. Tests must compare only the closed
    region; a production job keeps running and eventually closes
    every band."""
    wm = W.with_watermark(events)
    errors = wm.filter(F.col("event_type") == "error")
    clicks = wm.filter(F.col("event_type") == "click")
    return W.error_click_attribution_outer(errors, clicks)


def active_users_job(events: DataFrame) -> DataFrame:
    """Hourly distinct-actives: watermark → windowed dedup → count
    (two chained stateful operators; dedup state evicts past the
    watermark, finalized windows emit in append mode)."""
    return W.active_users(W.with_watermark(events))
