"""Streaming pipelines: the reference's source->process->sink lifecycle
(Processor.java:149-163) re-expressed as Structured Streaming queries, plus
the windowed/stateful operators the reference lacks.

Checkpointing is per-query via `checkpointLocation` (offsets WAL + state
store), which fixes the reference's recovery bug by construction -- a restored
query always has its sink attached (vs Processor.java:48-54, where the
checkpoint factory registers no output operation).

Watermarks bound state size, and `availableNow` gives drain-and-stop
backfill runs with the same code path as continuous processing.  The
operators compose: a chain carries one watermark, set by its first
event-time operator (Spark 4 refuses to redefine it).
"""

from __future__ import annotations

import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.money import dec


def _checkpoint() -> str:
    return tempfile.mkdtemp(prefix="ssq-checkpoint-")


def run_console_pipeline(stream: DataFrame, trigger_seconds: float = 1.0) -> StreamingQuery:
    """Reference-parity sink: per-record print (A3, Processor.java:141-147).

    Unlike the reference, output lands on the driver console, not in executor
    stdout (the classic DStream foreach gotcha noted in SURVEY.md 2.A-A3).
    """
    return (
        stream.writeStream.format("console")
        .option("truncate", "false")
        .option("checkpointLocation", _checkpoint())
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def run_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Programmable sink (generalizes A3): fn(batch_df, epoch_id) per micro-batch."""
    writer = stream.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint or _checkpoint())
    writer = writer.trigger(availableNow=True) if available_now else writer.trigger(processingTime="1 seconds")
    return writer.start()


def run_foreach_rows(
    stream: DataFrame,
    writer,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Row-at-a-time programmable sink (`writeStream.foreach`).

    The closest Structured Streaming analogue of the reference's per-record
    foreach println (`Processor.java:142-146`): `writer.process(row)` runs on
    executors once per row, with an open(partition_id, epoch_id)/close(err)
    lifecycle per partition per epoch -- which is also where the reference's
    "output lands in executor stdout" gotcha lives on a real cluster.
    Row-at-a-time Python is the slow path by design; `run_foreach_batch` is
    the scale sink.  This exists for protocol parity and side-effecting
    integrations that genuinely need per-row delivery semantics.
    """
    return (
        stream.writeStream.foreach(writer)
        .option("checkpointLocation", checkpoint or _checkpoint())
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(stream: DataFrame, name: str | None = None, output_mode: str = "append") -> str:
    """Drain a stream into an in-memory table with availableNow; returns the
    table name.  This is the test/driver harness for streaming queries.

    State-partition bound: a streaming query materializes one state store
    instance per shuffle partition, fixed at first checkpoint.  Under an
    untuned session (shuffle.partitions=200) a stateful drain pays 200 state
    stores x per-batch task overhead on a 32-core box -- measured 31s -> ~5s
    for the stream-stream full-outer join.  Cap state partitions at the
    core count for the query.  The query runs on its own clone of the
    session conf, taken in `start()`, so the caller's setting is restored as
    soon as `start()` returns.  On a real cluster the cap is total-cores,
    set once in session config instead.
    """
    spark = stream.sparkSession
    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    table = name or f"mem_{uuid.uuid4().hex[:8]}"
    try:
        try:
            prev_n = int(prev)
        except (TypeError, ValueError):
            prev_n = None
        if prev_n is None or prev_n > cores:
            spark.conf.set(key, str(cores))
        q = (
            stream.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .option("checkpointLocation", _checkpoint())
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, prev)
    q.awaitTermination()
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
