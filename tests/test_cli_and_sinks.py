"""Reference-parity CLI (A7) + streaming parquet sink + partition pruning."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.plans.inspect import explain_str
from sparkstreaming_quickstart_spark.sources.catalog import load_table
from sparkstreaming_quickstart_spark.streaming.source import events_stream

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_replay_drain(sf_dir, tmp_path):
    """The reference's main() path: CLI -> pipeline -> console sink, drained.
    Runs as a subprocess (fresh session like a real spark-submit)."""
    ckpt = str(tmp_path)
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "sparkstreaming_quickstart_spark",
            "--replay-dir",
            sf_dir,
            "--drain",
            "--checkpoint-folder",
            ckpt,
            "--name",
            "cli-test",
        ],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "event_type" in out.stdout  # console sink printed records


def test_cli_replay_drain_without_checkpoint_folder_starts_afresh(sf_dir):
    """Without --checkpoint-folder the console sink keeps no offsets between
    runs: a second drain prints the records again instead of resuming."""
    for _ in range(2):
        out = subprocess.run(
            [sys.executable, "-m", "sparkstreaming_quickstart_spark", "--replay-dir", sf_dir, "--drain"],
            cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "event_type" in out.stdout


def test_cli_query_mode_runs_registered_query(sf_dir):
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "sparkstreaming_quickstart_spark",
            "--query",
            "q01_pricing_summary",
            "--sf-dir",
            sf_dir,
            "--limit",
            "3",
        ],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "l_returnflag" in out.stdout and "sum_qty" in out.stdout


def test_cli_requires_kafka_args(monkeypatch):
    # Bad arguments, an unreachable registry, an unknown subject (404) and a
    # subject with no versions each end in one line before the JVM starts.
    import io
    import re
    from urllib.error import HTTPError, URLError

    from sparkstreaming_quickstart_spark import cli
    from sparkstreaming_quickstart_spark.streaming import schema_registry

    def no_session(*args, **kwargs):
        raise AssertionError("get_spark called before the arguments were checked")

    def unreachable(url, timeout):
        raise URLError("connection refused")

    def unknown_subject(url, timeout):
        raise HTTPError(url, 404, "Subject 'users-value' not found.", None, None)

    def no_versions(url, timeout):
        return io.BytesIO(b"[]")

    monkeypatch.setattr(cli, "get_spark", no_session)
    kafka = ["--zookeeper", "localhost:9092", "--source-topic", "users"]
    # no source at all, and the Kafka path without --registry
    for extra in ([], kafka):
        with pytest.raises(SystemExit) as exc:
            cli.main(extra)
        assert "--zookeeper" in str(exc.value) and "--registry" in str(exc.value)
    registry = "http://registry:8081"
    for urlopen in (unreachable, unknown_subject, no_versions):
        monkeypatch.setattr(schema_registry, "urlopen", urlopen)
        with pytest.raises(SystemExit, match=re.escape(f"registry {registry}: ")) as exc:
            cli.main([*kafka, "--registry", registry])
        assert "'users-value'" in str(exc.value) and "\n" not in str(exc.value), urlopen.__name__
    with pytest.raises(SystemExit, match="unknown query 'q_none'"):
        cli.main(["--query", "q_none"])


# Runs cli.main with the Kafka source swapped for a file stream of
# Kafka-shaped rows and the registry's HTTP transport swapped for a dict of
# canned responses, so the real resolver, reader schema and decode run.
_KAFKA_CLI_CHILD = """
import io, json, sys
from sparkstreaming_quickstart_spark import cli
from sparkstreaming_quickstart_spark.streaming import schema_registry

src_dir, served_path, *argv = sys.argv[1:]
with open(served_path) as fh:
    served = json.load(fh)
schema_registry.urlopen = lambda url, timeout: io.BytesIO(json.dumps(served[url]).encode())
cli.kafka_stream = lambda spark, bootstrap_servers, topics, starting_offsets: (
    spark.readStream.schema(
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp, timestampType int"
    ).parquet(src_dir)
)
sys.exit(cli.main(argv))
"""


def test_cli_kafka_path_decodes_every_schema_version(spark, tmp_path):
    """The reference's main() Kafka path: --registry resolves the topic's
    value subject, and records written under two schema versions print as
    `key` + JSON `value` through the console sink."""
    import datetime
    import json
    import re

    from sparkstreaming_quickstart_spark.streaming.avro_wire import wire_encode

    v1 = {"type": "record", "name": "testschema", "fields": [
        {"name": "name", "type": "string"}, {"name": "age", "type": ["int", "null"]}]}
    v2 = {"type": "record", "name": "testschema", "fields": [
        {"name": "name", "type": "string"}, {"name": "age", "type": ["int", "null"]},
        {"name": "email", "type": ["null", "string"]}]}
    records = [
        (b"k1", wire_encode(1, {"name": "Gilberto", "age": 59}, v1)),
        (b"k2", wire_encode(2, {"name": "Grace", "age": 45, "email": "g@x.io"}, v2)),
        (b"k3", wire_encode(1, {"name": "Alan", "age": None}, v1)),
    ]
    ts = datetime.datetime(2024, 1, 1)
    src_dir = str(tmp_path / "kafka")
    spark.createDataFrame(
        [(k, v, "users", 0, i, ts, 0) for i, (k, v) in enumerate(records)],
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp, timestampType int",
    ).coalesce(1).write.parquet(src_dir)

    def subject(name, *versions):
        base = f"http://registry:8081/subjects/{name}-value/versions"
        served = {base: [v for v, _, _ in versions]}
        for v, sid, schema in versions:
            served[f"{base}/{v}"] = {"subject": f"{name}-value", "version": v, "id": sid,
                                     "schema": json.dumps(schema)}
        return served

    served_path = tmp_path / "served.json"
    served_path.write_text(json.dumps({**subject("users", (1, 1, v1), (2, 2, v2)),
                                       **subject("legacy", (1, 1, v1))}))

    def run(*topics):
        argv = ["--zookeeper", "localhost:9092", "--registry", "http://registry:8081",
                "--earliest", "--drain"]
        for t in topics:
            argv += ["--source-topic", t]
        return subprocess.run(
            [sys.executable, "-c", _KAFKA_CLI_CHILD, src_dir, str(served_path), *argv],
            cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
            capture_output=True,
            text=True,
            timeout=300,
        )

    out = run("users")
    assert out.returncode == 0, out.stderr[-2000:]
    for key, value in [
        ("k1", '{"name":"Gilberto","age":59}'),
        ("k2", '{"name":"Grace","age":45,"email":"g@x.io"}'),
        ("k3", '{"name":"Alan"}'),
    ]:
        assert re.search(rf"\|{key}\s*\|{re.escape(value)}\s*\|", out.stdout), out.stdout
    # topics whose newest value schemas differ are refused, not merged
    out = run("users", "legacy")
    assert out.returncode != 0
    assert "['legacy', 'users'] have different newest value schemas" in out.stderr


def test_streaming_parquet_sink(spark, sf_dir, tmp_path):
    """Stream -> parquet files + checkpoint; batch read-back equals input."""
    outdir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        events_stream(spark, sf_dir)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    written = spark.read.parquet(outdir)
    assert written.count() == load_table(spark, sf_dir, "events").count()
    assert glob.glob(os.path.join(ckpt, "offsets", "*")), "offset WAL missing"


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """partitionBy write -> filtered read hits only one partition directory."""
    outdir = str(tmp_path / "events")
    e = load_table(spark, sf_dir, "events")
    e.write.partitionBy("event_type").mode("overwrite").parquet(outdir)
    back = spark.read.parquet(outdir).filter(F.col("event_type") == "click")
    plan = explain_str(back, "formatted")
    assert "PartitionFilters" in plan
    assert back.count() == e.filter(F.col("event_type") == "click").count()


def test_csv_and_json_source_roundtrip(spark, sf_dir, tmp_path):
    """CSV and JSON line formats read back losslessly under an explicit
    schema (the generic-source surface beyond parquet; a reference user's
    first non-Kafka input is usually one of these).  Timestamps pinned to a
    format so the roundtrip is exact."""
    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    csv_path, json_path = str(tmp_path / "li_csv"), str(tmp_path / "li_json")
    li.write.option("header", True).option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(csv_path)
    li.write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss").json(json_path)
    back_csv = (
        spark.read.schema(li.schema)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(csv_path)
    )
    back_json = (
        spark.read.schema(li.schema)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .json(json_path)
    )
    key = [r["l_orderkey"] for r in li.select("l_orderkey").orderBy("l_orderkey", "l_linenumber").collect()]
    for back in (back_csv, back_json):
        assert back.schema == li.schema
        assert back.count() == 500
        got = [r["l_orderkey"] for r in back.select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber").collect()]
        assert got == key
    # value fidelity: exact decimal checksum matches across all three forms
    def chk(df):
        return df.agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
        ).collect()[0]

    assert chk(back_csv) == chk(li)
    assert chk(back_json) == chk(li)


def test_observation_metrics_single_pass(spark, sf_dir):
    """df.observe collects operational metrics (row counts, sums) during the
    one real pass over the data -- at 100 TB a second count() scan is not an
    option, so pipelines attach observations instead."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    obs = Observation("ingest_stats")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_total"),
    )
    kept = li.filter(F.col("l_returnflag") == "R").count()
    stats = obs.get
    assert stats["rows_seen"] == load_table(spark, sf_dir, "lineitem").count()
    assert kept < stats["rows_seen"]
    assert stats["qty_total"] is not None


def test_ground_truth_tags_and_cli_surfacing(sf_dir):
    """Scale-class fence (round 9, extended rounds 10-11): the seven exact/
    all-pairs parity entries carry scale_class='ground-truth',
    --list-queries marks them, and --query warns before running one.  No
    untagged registry entry may have a cartesian product in the committed
    plan audit."""
    import json

    from sparkstreaming_quickstart_spark.queries import all_queries

    qs = all_queries()
    tagged = {n for n, q in qs.items() if q.scale_class == "ground-truth"}
    assert tagged == {
        "q51_dedup_jaccard_exact",
        "q54_similarity_topk",
        "q114_dedup_embedding_exact",
        "q178_brp_lsh_euclidean",
        # round 10: the exact inverted-index TF-IDF join is Sum C(df,2) --
        # measured quadratic-class on a Zipf vocab even with the df>50%
        # stop-word prune (wave8.py docstring; SCALING.md round-10 note)
        "q222_tfidf_cosine_pairs",
        # round 11 (round-10 verdict #1): the GLOBAL-exact mutual-kNN
        # broadcasts + collect()s the corpus by construction; q386's
        # per-IVF-cell form is the registered scale primary
        "q329_mutual_knn_graph",
        # round 11: the recall eval NEEDS the exact side (it scores q386
        # against q329's kernel), so it inherits the fence
        "q389_knn_cell_recall",
    }
    assert {q.scale_class for q in qs.values()} <= {"scale", "ground-truth"}
    with open(os.path.join(REPO, "tools", "plan_audit.json")) as fh:
        audit = json.load(fh)
    for name, m in audit.items():
        if m.get("cartesian_products", 0) > 0:
            assert name in tagged, f"{name} has a cartesian product but no tag"
    # --list-queries marks the tagged entries
    out = subprocess.run(
        [sys.executable, "-m", "sparkstreaming_quickstart_spark", "--list-queries"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    listed = {
        line.split("\t")[0].removesuffix(" [ground-truth]")
        for line in out.stdout.splitlines()
        if " [ground-truth]\t" in line
    }
    assert listed == tagged
    # --query on a tagged entry warns on stderr but still runs
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "sparkstreaming_quickstart_spark",
            "--query",
            "q114_dedup_embedding_exact",
            "--sf-dir",
            sf_dir,
            "--limit",
            "3",
        ],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ground-truth/all-pairs parity query" in out.stderr
