"""Reference-parity CLI entry point (A7, Processor.java:87-116 / main at
165-171), upgraded to Structured Streaming.

Same surface as the reference's argparse4j parser -- --name, --zookeeper
(which the reference actually uses as the Kafka bootstrap servers, see
Processor.java:124-126), --registry, --earliest, --checkpoint-folder,
--batch-period, --source-topic -- plus --replay-dir to run the pipeline off
the file-replay source when no broker exists (the driver/test environment).

The Kafka path resolves writer schemas as the reference's
KafkaAvroDeserializer does (Processor.java:128-130): each topic's value
subject `<topic>-value` (Confluent's TopicNameStrategy) is read from
--registry once, when the query is built, and its newest version is the
reader schema.  Both paths print the same two columns, `key` and a JSON
`value`.

Fixes inherited reference bugs by construction (SURVEY.md section 7 risks):
the checkpoint always has the sink attached (per-query checkpointLocation),
batch-period is honored on every code path, and a missing --earliest simply
defaults instead of NPE-ing (Processor.java:77).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from .session import get_spark
from .streaming.avro_wire import decode_confluent_avro, reader_struct
from .streaming.schema_registry import fetch_subject_schemas
from .streaming.source import events_stream, kafka_stream


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sparkstreaming-quickstart-spark",
        description="Kafka/replay -> transform -> console streaming pipeline",
    )
    p.add_argument("--name", default="sparkstreaming-quickstart-spark")
    p.add_argument("--zookeeper", help="Kafka bootstrap servers (reference arg name kept for parity)")
    p.add_argument("--registry", help="Schema-registry URL (required with --zookeeper)")
    p.add_argument("--earliest", action="store_true", help="start from earliest offsets")
    p.add_argument("--checkpoint-folder", default=None)
    p.add_argument("--batch-period", type=int, default=1000, help="micro-batch trigger in ms")
    p.add_argument("--source-topic", action="append", default=[], help="repeatable")
    p.add_argument(
        "--replay-dir",
        default=None,
        help="run off <dir>/events.parquet instead of Kafka; the dir must hold no "
        "hive-style k=v/ subdir",
    )
    p.add_argument("--drain", action="store_true", help="availableNow: process everything then stop")
    p.add_argument(
        "--query",
        default=None,
        metavar="NAME",
        help="run a registered analytics query (see --list-queries) against "
        "--sf-dir and print the result instead of starting the pipeline",
    )
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table directory for --query")
    p.add_argument("--limit", type=int, default=20, help="rows to show for --query")
    p.add_argument("--explain", action="store_true", help="with --query: print the physical plan too")
    p.add_argument("--list-queries", action="store_true", help="list registered query names and exit")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.list_queries:
        from .queries import all_queries

        for name, q in all_queries().items():
            tag = " [ground-truth]" if q.scale_class == "ground-truth" else ""
            print(f"{name}{tag}\t{(q.doc or '').strip().splitlines()[0] if q.doc else ''}")
        return 0
    # Arguments and the registry are checked before get_spark starts the JVM.
    if args.query:
        from .queries import all_queries

        registry = all_queries()
        if args.query not in registry:
            raise SystemExit(f"unknown query {args.query!r}; see --list-queries")
        if registry[args.query].scale_class == "ground-truth":
            print(
                f"WARNING: {args.query} is a ground-truth/all-pairs parity query "
                "kept for oracle and recall evaluation; it does not scale to "
                "production data sizes. Use its bucketed sibling for real runs "
                "(see the query doc / COVERAGE.md).",
                file=sys.stderr,
            )
        df = registry[args.query].fn(get_spark(args.name), args.sf_dir)
        if args.explain:
            df.explain("formatted")
        df.show(args.limit, truncate=False)
        return 0
    if args.replay_dir:
        src, key = events_stream(get_spark(args.name), args.replay_dir), "event_id"
        fields = ["ts", "user_id", "event_type", "value"]
    else:
        if not (args.zookeeper and args.source_topic and args.registry):
            raise SystemExit("--zookeeper, --source-topic and --registry required without --replay-dir")
        schema_map, newest = {}, {}
        for topic in args.source_topic:
            subject = f"{topic}-value"
            try:
                versions = fetch_subject_schemas(args.registry, subject)
            except OSError as e:  # urllib's URLError and HTTPError (an unknown subject is a 404)
                raise SystemExit(f"registry {args.registry}: cannot read subject {subject!r}: {e}") from None
            if not versions:
                raise SystemExit(f"registry {args.registry}: subject {subject!r} has no versions")
            schema_map.update(versions)  # ids are global within a registry
            newest[topic] = json.loads(list(versions.values())[-1])
        first = newest[args.source_topic[0]]
        if any(s != first for s in newest.values()):
            raise SystemExit(f"topics {sorted(newest)} have different newest value schemas")
        reader = reader_struct(first)
        kafka = kafka_stream(
            get_spark(args.name),
            bootstrap_servers=args.zookeeper,
            topics=args.source_topic,
            starting_offsets="earliest" if args.earliest else "latest",
        )
        # Only key and value: Kafka's own columns (topic, offset, ...) would
        # clash with reader fields of the same name.
        src, key = decode_confluent_avro(kafka.select("key", "value"), reader, schema_map), "key"
        fields = reader.fieldNames()
    stream = src.select(
        F.col(key).cast("string").alias("key"), F.to_json(F.struct(*fields)).alias("value")
    )
    # Reference sink semantics (A3): print key/value per record.  Checkpoints
    # are opt-in as in the reference: without --checkpoint-folder the console
    # sink runs on Spark's temporary checkpoint and starts afresh every run.
    writer = stream.writeStream.format("console").option("truncate", "false")
    if args.checkpoint_folder:
        writer = writer.option("checkpointLocation", args.checkpoint_folder)
    if args.drain:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{args.batch_period} milliseconds")
    q = writer.start()
    q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
