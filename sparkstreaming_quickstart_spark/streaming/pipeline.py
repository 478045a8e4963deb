"""Streaming pipelines: the reference's source->process->sink lifecycle
(Processor.java:149-163) re-expressed as Structured Streaming queries, plus
the windowed/stateful operators the reference lacks.

Checkpointing is per query.  A caller that wants restarts passes a
`checkpoint` (offsets WAL + state store), which fixes the reference's
recovery bug by construction -- a restored query always has its sink
attached (vs Processor.java:48-54, where the checkpoint factory registers no
output operation).  Without one, Spark gives the query a `temporary-*`
checkpoint of its own (memory, console and foreach sinks), deletes it when
the query ends without error and keeps it when the query fails.

Watermarks bound state size, and `availableNow` gives drain-and-stop
backfill runs with the same code path as continuous processing.  The
operators compose: a chain carries one watermark, set by its first
event-time operator (Spark 4 refuses to redefine it).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.money import dec


def run_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Programmable sink (generalizes A3): fn(batch_df, epoch_id) per
    micro-batch, drained with availableNow."""
    writer = stream.writeStream.foreachBatch(fn)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def run_to_memory(stream: DataFrame, output_mode: str = "append") -> str:
    """Drain a stream into an in-memory table `mem_<uuid>` with availableNow;
    returns the table name.  This is the test/driver harness for streaming
    queries, on Spark's temporary checkpoint.  A stateful query runs one
    state store per shuffle partition of the session (`session.tune()` sets
    the count to the cores of a local session)."""
    table = f"mem_{uuid.uuid4().hex[:8]}"
    (
        stream.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return table


def _watermarked(stream: DataFrame, delay: str) -> DataFrame:
    """`stream` with a watermark on ts, unless it already carries one (an
    upstream operator's): Spark 4 rejects a redefined watermark.  Spark marks
    a watermarked column with this metadata key (EventTimeWatermark.delayKey)."""
    if any("spark.watermarkDelayMs" in f.metadata for f in stream.schema.fields):
        return stream
    return stream.withWatermark("ts", delay)


def tumbling_counts(stream: DataFrame, window_size: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window aggregation with watermarking (`watermark`
    applies only when the input carries none)."""
    return (
        _watermarked(stream, watermark)
        .groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(stream: DataFrame, size: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding event-time windows (each event lands in size/slide windows)."""
    return (
        _watermarked(stream, "4 hours")
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def streaming_dedup(
    stream: DataFrame, keys: list[str], watermark: str = "1 day", within_watermark: bool = True
) -> DataFrame:
    """Streaming deduplication on `keys`.

    within_watermark=True (the 100 TB path) bounds state via
    `dropDuplicatesWithinWatermark`; False gives exact batch-DISTINCT
    semantics with unbounded state (fine for finite replays / tests).
    """
    wm = stream.withWatermark("ts", watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)
