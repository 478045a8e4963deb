"""Streaming sources.

Production path mirrors the reference's Kafka ingest (A1,
Processor.java:118-139): `kafka_stream` only reads
`readStream.format("kafka")`.  Per-record writer-schema decode is its own
operator, composed by the caller: `decode_confluent_avro(kafka_stream(...),
reader, fetch_subject_schemas(...))` (streaming/avro_wire.py,
streaming/schema_registry.py).  It is one JVM function over `value` alone,
so filters and projections on the Kafka columns plan below it.  Offsets/group management move into the
checkpoint WAL, superseding the reference's `enable.auto.commit=false` +
never-implemented manual commit (Processor.java:132-135).

Test/driver path: `table_stream` replays `<sf_dir>/<table>.parquet` in place
through the file stream source -- same unbounded-DataFrame surface, no broker
and no copy needed -- with the schema Spark itself reads from the file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from ..session import tune
from ..sources.catalog import nanos_ts_to_micros


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Replay `<sf_dir>/<table>.parquet` as a file-source stream.

    The file source lists `sf_dir` in place and keeps only the table's file
    (`pathGlobFilter`), so the replay needs no copy of it.  `sf_dir` must be
    flat: a hive-style `k=v/` subdir there makes Spark's partition inference
    fail (CONFLICTING_DIRECTORY_STRUCTURES), while a plain subdir is not
    listed.  The stream schema is Spark's own read of the file, so it
    matches what the batch reader sees under the same session confs."""
    tune(spark)
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events.parquet as a file-source stream (ts as a timestamp)."""
    df = nanos_ts_to_micros(table_stream(spark, sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        # Watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
        # NTZ).  tune() pins the session timezone to UTC, so this cast is a
        # value-preserving reinterpretation, not a shift.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: list[str],
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (Processor.java:124-138): subscribe to topics from the
    earliest or latest offsets.  Returns the source's own columns (binary
    `key` and `value`, `topic`, `partition`, `offset`, `timestamp`,
    `timestampType`); the caller decodes `value` with
    `decode_confluent_avro`.  Needs the spark-sql-kafka package on the
    classpath (it does not ship with pyspark): without it `load()` fails
    with "Failed to find data source: kafka"."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .load()
    )
