"""Event-time windowed aggregation over a file stream.

100 TB shape notes: the parquet file source scales by splitting input
files across executors per micro-batch (maxFilesPerTrigger bounds
batch size); the windowed agg is a streaming state-store aggregation
keyed on (window, event_type) — state size is bounded by the watermark
horizon, not the stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

DEFAULT_WATERMARK = "2 hours"


def events_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of an events parquet directory (schema must be
    explicit on streaming sources — no inference race)."""
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(src_dir)


def windowed_counts_stream(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Tumbling 1-hour windows with late-data tolerance = `watermark`.
    Same aggregate as the batch `windowed_event_counts` operator, so
    the test can diff streaming output against the batch plan."""
    # imported here: the streaming package must not pull in the whole
    # operator registry when a worker unpickles one of its UDFs
    from ragflow_spark.operators.events import window_counts

    return window_counts(
        events.withWatermark("ts", watermark), F.window("ts", "1 hour")
    )


def run_to_memory(
    sdf: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into an in-memory
    table; returns the result as a batch DataFrame. `complete` mode
    emits windows still open at end-of-input (append would hold them
    until the watermark passes — correct for an unbounded stream,
    wrong for a finite drain)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(query_name)


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping
    re-deliveries that arrive within the watermark horizon
    (`dropDuplicatesWithinWatermark` — state for a key is evicted once
    the watermark passes its event time, so state size is bounded by
    the horizon, not the stream length; the classic unbounded-state
    trap of plain dropDuplicates on streams).

    The batch analog is `dedup_exact`; at crawl scale this is how
    re-crawled / re-queued pages are suppressed at ingest before the
    expensive extraction kernel runs."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )
