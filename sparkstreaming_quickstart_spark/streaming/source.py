"""Streaming sources.

Production path mirrors the reference's Kafka ingest (A1,
Processor.java:118-139): `kafka_stream` reads `readStream.format("kafka")`
and, with a pinned reader schema, decodes the value through spark-avro's
`from_avro`, after stripping the Confluent wire-format header (magic byte +
4-byte schema id) that `from_avro` does not understand.  Per-record
writer-schema decode is its own operator, composed by the caller:
`decode_confluent_avro(kafka_stream(...), reader, fetch_schema_map(...))`
(streaming/avro_wire.py, streaming/schema_registry.py).  Offsets/group
management move into the checkpoint WAL, superseding the reference's
`enable.auto.commit=false` + never-implemented manual commit
(Processor.java:132-135).

Test/driver path: `table_stream` replays `<sf_dir>/<table>.parquet` in place
through the file stream source -- same unbounded-DataFrame surface, no broker
and no copy needed -- with the schema Spark itself reads from the file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
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


def strip_confluent_header(value: Column | str) -> Column:
    """Drop the Confluent wire-format prefix from an Avro message value.

    The reference's KafkaAvroDeserializer resolves the writer schema from a
    5-byte prefix -- magic byte 0 + big-endian 4-byte schema id
    (Processor.java:51, registry lookup); Spark's `from_avro` expects a bare
    Avro body under a pinned reader schema, so the prefix must go.
    """
    col = F.col(value) if isinstance(value, str) else value
    return F.substr(col, F.lit(6), F.length(col) - F.lit(5))


def _require_avro(spark: SparkSession) -> None:
    """Fail fast with guidance if the spark-avro connector is absent.

    The Python wrapper always imports; the jar-missing failure otherwise
    surfaces only at analysis time as AVRO_NOT_LOADED -- probe analysis
    eagerly so callers get one clear error at build time.
    """
    try:
        from pyspark.sql.avro.functions import from_avro

        probe = spark.range(1).select(from_avro(F.lit(bytes([0])), '"bytes"'))
        probe._jdf.queryExecution().analyzed()
    except Exception as exc:
        raise NotImplementedError(
            "spark-avro connector required for Avro decode: submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark version>"
        ) from exc


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: list[str],
    avro_schema_json: str | None = None,
    starting_offsets: str = "earliest",
    confluent_wire_format: bool = True,
) -> DataFrame:
    """Kafka source, with an optional pinned-schema Avro value decode.

    Reference parity (Processor.java:124-138): subscribe to topics, string
    key, Avro GenericRecord value, earliest/latest start.  The Kafka source
    itself requires the spark-sql-kafka package on the classpath; raises a
    clear error otherwise (it does not ship in this container).

    With `avro_schema_json`, the value decodes to a `record` column through
    the spark-avro connector's `from_avro` (JVM decode; jar required), after
    stripping the Confluent header when `confluent_wire_format`.  Without it
    the binary `value` passes through, for `decode_confluent_avro`.
    """
    df = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
        .load()
    )
    out = df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value"),
        "topic",
        "partition",
        "offset",
        "timestamp",
    )
    if avro_schema_json is not None:
        _require_avro(spark)
        from pyspark.sql.avro.functions import from_avro

        payload = strip_confluent_header("value") if confluent_wire_format else F.col("value")
        out = out.withColumn("record", from_avro(payload, avro_schema_json))
    return out

