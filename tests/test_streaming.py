"""Streaming semantics tests (SURVEY.md section 5.2): batch-vs-stream
equivalence (prefix consistency makes batch the oracle), recovery on the same
checkpoint without duplicates, and the reference-parity foreachBatch sink.

The recovery test mirrors reference bug A5 done right: the reference's
checkpoint factory never re-attached an output operation
(Processor.java:48-54); per-query checkpointLocation makes that unrepresentable.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.sources.catalog import load_table
from sparkstreaming_quickstart_spark.streaming.pipeline import (
    run_foreach_batch,
    run_to_memory,
    tumbling_counts,
)
from sparkstreaming_quickstart_spark.streaming.source import events_stream


def _batch_tumbling_rows(spark, sf_dir):
    """tumbling_counts' defaults computed over the batch table, sorted."""
    from sparkstreaming_quickstart_spark.functions.money import dec

    batch_result = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    return sorted(map(tuple, batch_result.collect()))


def test_stream_equals_batch_tumbling(spark, sf_dir):
    stream_result = spark.table(
        run_to_memory(tumbling_counts(events_stream(spark, sf_dir)), output_mode="complete")
    )
    assert sorted(map(tuple, stream_result.collect())) == _batch_tumbling_rows(spark, sf_dir)


def test_foreach_batch_sink_collects_all_rows(spark, sf_dir):
    seen: list[int] = []

    def sink(df, epoch_id):
        seen.append(df.count())

    q = run_foreach_batch(events_stream(spark, sf_dir), sink)
    q.awaitTermination()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(seen) == total


def test_checkpoint_recovery_no_duplicates(spark, sf_dir, tmp_path):
    """Restarting a drained query on the same checkpoint reprocesses nothing."""
    checkpoint = str(tmp_path)
    counts: list[int] = []

    def sink(df, epoch_id):
        counts.append(df.count())

    q1 = run_foreach_batch(events_stream(spark, sf_dir), sink, checkpoint=checkpoint)
    q1.awaitTermination()
    first_total = sum(counts)
    q2 = run_foreach_batch(events_stream(spark, sf_dir), sink, checkpoint=checkpoint)
    q2.awaitTermination()
    assert sum(counts) == first_total, "restart on same checkpoint must not reprocess"
    assert first_total == load_table(spark, sf_dir, "events").count()


def test_streaming_dedup_within_watermark_runs(spark, sf_dir):
    from sparkstreaming_quickstart_spark.streaming.pipeline import streaming_dedup

    deduped = streaming_dedup(events_stream(spark, sf_dir), ["user_id", "event_type"], within_watermark=True)
    table = run_to_memory(deduped, output_mode="append")
    n = spark.table(table).count()
    distinct_n = load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().count()
    # within-watermark dedup can only emit >= exact-distinct rows
    assert n >= distinct_n


def test_transform_with_state_gated_on_protobuf(spark, sf_dir):
    # q76 (transformWithStateInPandas) registers only where protobuf exists;
    # where it does, it must match the batch aggregate.
    from sparkstreaming_quickstart_spark.queries import all_queries
    from sparkstreaming_quickstart_spark.queries.streaming import _has_protobuf

    registered = "q76_stream_transform_with_state" in all_queries()
    assert registered == _has_protobuf()
    if registered:
        from sparkstreaming_quickstart_spark.sources.catalog import load_table
        from pyspark.sql import functions as F

        got = all_queries()["q76_stream_transform_with_state"].fn(spark, sf_dir).collect()
        want = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"), F.min("value").alias("min_value"), F.max("value").alias("max_value"))
            .orderBy("user_id")
            .collect()
        )
        assert got == want


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    # The RocksDB state store (state off the JVM heap) is a drop-in
    # provider: same query, same results, under both providers.
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory, tumbling_counts
    from sparkstreaming_quickstart_spark.streaming.source import events_stream

    def run():
        agg = tumbling_counts(events_stream(spark, sf_dir), "1 hour", "2 hours")
        return sorted(
            (r.window_start, r.event_type, r.n_events, r.sum_value)
            for r in spark.table(run_to_memory(agg, output_mode="complete")).collect()
        )

    key = "spark.sql.streaming.stateStore.providerClass"
    default = run()
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try:
        rocks = run()
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    assert rocks == default and len(rocks) > 0


def test_watermark_finalizes_windows_and_drops_post_eviction_late_data(spark, tmp_path):
    """Late-data semantics the reference's DStream pipeline (no event time)
    could not express.  Spark's watermark guarantee is one-directional: data
    within the delay is never dropped; data beyond it is dropped once the
    window's state has been evicted (while state lives, a late row MAY still
    merge).  So the deterministic assertion is: after intermediate batches
    force eviction, window [10:00, 11:00) is emitted exactly once with its
    pre-eviction count, and a later 10:45 straggler neither re-emits nor
    resurrects it."""
    import datetime
    import time
    import uuid

    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    def t(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    schema = StructType([StructField("event_id", LongType()), StructField("ts", TimestampType())])
    src = tmp_path / "stream-in"
    src.mkdir()
    batches = [
        [(1, t(10, 0)), (2, t(10, 30)), (3, t(13, 0))],  # watermark -> 12:00
        [(4, t(13, 10))],  # eviction lag absorber
        [(5, t(13, 20))],  # window 10 finalized+emitted by here
        [(6, t(10, 45)), (7, t(13, 30))],  # 10:45 arrives after eviction -> dropped
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)  # distinct mtimes keep file-source batch order stable

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
        .withWatermark("ts", "1 hour")
    )
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w")).count()
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    hour10 = [r["count"] for r in spark.table(name).collect() if r["w"].start.hour == 10]
    # exactly one finalized emission, without the post-eviction straggler
    assert hour10 == [2], spark.table(name).collect()


def test_streaming_query_listener_observes_progress(spark, sf_dir):
    """StreamingQueryListener (the monitoring surface a production pipeline
    hangs metrics on): started/progress/terminated all fire, and the progress
    events account for every input row."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    events = {"started": 0, "progress": [], "terminated": 0}

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

        run_to_memory(events_stream(spark, sf_dir))
        n_expected = load_table(spark, sf_dir, "events").count()
        # Listener events are delivered asynchronously on the listener-bus
        # thread; poll briefly instead of assuming synchronous delivery.
        deadline = time.time() + 30
        while time.time() < deadline and (
            events["started"] == 0
            or events["terminated"] == 0
            or sum(events["progress"]) < n_expected
        ):
            time.sleep(0.25)
        assert events["started"] >= 1
        assert events["terminated"] >= 1
        assert sum(events["progress"]) == n_expected, events["progress"]
    finally:
        spark.streams.removeListener(listener)


def test_union_of_streams_aggregates_like_batch(spark, sf_dir, tmp_path):
    """Two file-source streams unioned into one windowed aggregation: the
    combined result must equal the batch aggregation over all rows (the
    engine takes the MIN of the per-input watermarks, so neither side's
    progress can drop the other's data in an availableNow drain)."""
    import uuid as _uuid

    from sparkstreaming_quickstart_spark.functions.money import dec  # noqa: F401

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    e.filter(F.col("event_id") % 2 == 0).write.parquet(a_dir)
    e.filter(F.col("event_id") % 2 == 1).write.parquet(b_dir)
    schema = spark.read.parquet(a_dir).schema

    def stream(path):
        return (
            spark.readStream.schema(schema)
            .parquet(path)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
        )

    unioned = stream(a_dir).unionByName(stream(b_dir))
    agg = unioned.groupBy(F.window("ts", "1 day").alias("w")).count()
    name = f"u_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["w"].start.isoformat(), r["count"]) for r in spark.table(name).collect()
    }
    want = {
        (r["w"].start.isoformat(), r["count"])
        for r in (
            e.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 day").alias("w"))
            .count()
            .collect()
        )
    }
    assert got == want


def test_rate_micro_batch_source_is_deterministic(spark, tmp_path):
    """rate-micro-batch: exactly rowsPerBatch rows per batch with
    deterministic values -- the load-generator source for throughput tests
    (unlike `rate`, batch contents don't depend on wall-clock timing)."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .option("numPartitions", 2)
        .load()
    )
    import uuid as _uuid

    name = f"rmb_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    vals = sorted(r["value"] for r in spark.table(name).collect())
    assert len(vals) % 10 == 0 and len(vals) > 0
    assert vals == list(range(len(vals)))


def test_foreach_batch_fanout_writes_two_sinks_consistently(spark, sf_dir, tmp_path):
    """Multi-sink fanout inside one foreachBatch: persist() the batch, write
    it to two sinks, unpersist.  Both sinks must hold the identical full
    row set -- the pattern that avoids recomputing the upstream (and, on a
    real source, re-reading the micro-batch) once per sink."""
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_foreach_batch

    s1, s2 = str(tmp_path / "s1"), str(tmp_path / "s2")

    def fanout(df, epoch_id):
        df.persist()
        try:
            df.write.mode("append").parquet(s1)
            df.select("event_id", "user_id").write.mode("append").parquet(s2)
        finally:
            df.unpersist()

    q = run_foreach_batch(events_stream(spark, sf_dir), fanout)
    q.awaitTermination()
    n = load_table(spark, sf_dir, "events").count()
    ids1 = sorted(r.event_id for r in spark.read.parquet(s1).select("event_id").collect())
    ids2 = sorted(r.event_id for r in spark.read.parquet(s2).select("event_id").collect())
    expected = sorted(
        r.event_id for r in load_table(spark, sf_dir, "events").select("event_id").collect()
    )
    assert ids1 == expected and ids2 == expected and len(ids1) == n


def test_streaming_observe_metrics_surface_in_progress(spark, sf_dir, tmp_path):
    """df.observe on a STREAMING query: per-batch custom metrics (row count,
    null count, value sum) surface in StreamingQueryProgress.observedMetrics
    -- the in-band data-quality monitoring pattern (q213's rules, attached
    to a live stream instead of a batch gate)."""
    import time
    import uuid as _uuid

    observed = []

    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            m = e.progress.observedMetrics.get("dq")
            if m is not None:
                observed.append((m["n_rows"], m["n_null_user"], round(m["sum_value"], 6)))

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        stream = events_stream(spark, sf_dir).observe(
            "dq",
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("user_id").isNull()).alias("n_null_user"),
            F.sum("value").alias("sum_value"),
        )
        name = f"obs_{_uuid.uuid4().hex[:8]}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path))
            .start()
        )
        q.awaitTermination()
        batch = load_table(spark, sf_dir, "events")
        want_rows = batch.count()
        want_sum = round(batch.agg(F.sum("value")).collect()[0][0], 6)
        deadline = time.time() + 30
        while time.time() < deadline and sum(m[0] for m in observed) < want_rows:
            time.sleep(0.25)
        assert sum(m[0] for m in observed) == want_rows, observed
        assert sum(m[1] for m in observed) == 0
        assert round(sum(m[2] for m in observed), 5) == round(want_sum, 5)
    finally:
        spark.streams.removeListener(listener)


def test_foreach_batch_dead_letter_queue_quarantines_bad_rows(spark, tmp_path):
    """Dead-letter-queue pattern in foreachBatch: each micro-batch splits
    into valid rows (typed parse succeeded) and quarantined rows (parse
    failed, kept raw with an error tag) -- no row is dropped, the sink
    stays typed, and the DLQ is replayable.  try_cast does the
    classification, so a poison message can never kill the query."""
    src = str(tmp_path / "src")
    rows = [(1, "10.5"), (2, "not-a-number"), (3, "7"), (4, ""), (5, "3.25")]
    spark.createDataFrame(rows, "id long, payload string").coalesce(1).write.parquet(src)

    good_dir, dlq_dir = str(tmp_path / "good"), str(tmp_path / "dlq")

    def route(df, epoch_id):
        df = df.withColumn("parsed", F.expr("try_cast(payload AS DOUBLE)")).persist()
        try:
            df.filter("parsed IS NOT NULL").select("id", "parsed").write.mode(
                "append"
            ).parquet(good_dir)
            (
                df.filter("parsed IS NULL")
                .select("id", "payload", F.lit("NOT_A_DOUBLE").alias("error"))
                .write.mode("append")
                .parquet(dlq_dir)
            )
        finally:
            df.unpersist()

    stream = spark.readStream.schema("id long, payload string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    good = {r.id: r.parsed for r in spark.read.parquet(good_dir).collect()}
    dlq = {r.id: r.error for r in spark.read.parquet(dlq_dir).collect()}
    assert good == {1: 10.5, 3: 7.0, 5: 3.25}
    assert dlq == {2: "NOT_A_DOUBLE", 4: "NOT_A_DOUBLE"}


def test_streaming_restart_with_added_projection_continues_from_checkpoint(spark, sf_dir, tmp_path):
    """Pipeline evolution across restarts: run a windowed aggregation over
    half the input, stop, then restart ON THE SAME CHECKPOINT with an extra
    downstream projection (an 'allowed change' -- state schema untouched).
    The restarted query must resume from the recorded offsets (no
    reprocessing: only the second half's files are new) and the combined
    result must equal the batch answer over all rows."""
    import os
    import time
    import uuid as _uuid

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    src = str(tmp_path / "src")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(os.path.join(src, "b0"))
    schema = spark.read.parquet(os.path.join(src, "b0")).schema
    ckpt = str(tmp_path / "ck")

    def agg_of(stream):
        return stream.withColumn("ts", F.col("ts").cast("timestamp")).groupBy(
            F.window("ts", "1 day").alias("w")
        ).count()

    def drain(extra_projection):
        stream = spark.readStream.schema(schema).parquet(os.path.join(src, "b*"))
        agg = agg_of(stream)
        if extra_projection:  # the evolution: rename + derived column
            agg = agg.select(
                F.col("w"), F.col("count").alias("n"), (F.col("count") > 0).alias("nonzero")
            )
        name = f"evo_{_uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return name

    drain(extra_projection=False)
    time.sleep(1.1)
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(os.path.join(src, "b1"))
    name2 = drain(extra_projection=True)

    got = {
        (r["w"].start.isoformat(), r["n"], r["nonzero"])
        for r in spark.table(name2).collect()
    }
    want = {
        (r["w"].start.isoformat(), r["count"], True)
        for r in (
            e.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 day").alias("w"))
            .count()
            .collect()
        )
    }
    assert got == want


def _checkpoint_manager(spark, path: str) -> str:
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )
    return manager.getClass().getName()


def test_local_session_commits_checkpoints_through_filesystem_manager(spark, tmp_path):
    """Local sessions write checkpoints through Spark's FileSystem-based
    manager, both when get_spark built the session and when tune() is
    applied to a session that did not have it (the driver-owned route)."""
    from sparkstreaming_quickstart_spark.session import FS_CHECKPOINT_MANAGER, tune

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert _checkpoint_manager(spark, str(tmp_path)) == FS_CHECKPOINT_MANAGER
    spark.conf.unset(key)
    try:
        assert _checkpoint_manager(spark, str(tmp_path)) != FS_CHECKPOINT_MANAGER
    finally:
        tune(spark)
    assert _checkpoint_manager(spark, str(tmp_path)) == FS_CHECKPOINT_MANAGER


def _drain_window_updates(stream, checkpoint: str, final: dict | None = None) -> dict:
    """Run `stream` (an update-mode window aggregation) to the end of its
    input with availableNow; fold every emitted row into `final`, keyed by
    (window_start, event_type), so the last update of a window wins."""
    final = {} if final is None else final

    def sink(df, epoch_id):
        for r in df.collect():
            final[(r.window_start, r.event_type)] = (r.n_events, r.sum_value)

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return final


def test_dedup_then_tumbling_composes_under_default_confs(spark, sf_dir, tmp_path):
    """streaming_dedup -> tumbling_counts (and -> sliding_counts) run under
    Spark 4's default multi-operator watermarks: the chain carries dedup's
    single watermark, and the counts equal the batch answer."""
    from sparkstreaming_quickstart_spark.functions.money import dec
    from sparkstreaming_quickstart_spark.streaming.pipeline import sliding_counts, streaming_dedup

    assert spark.conf.get("spark.sql.streaming.statefulOperator.allowMultiple") == "true"
    deduped = streaming_dedup(events_stream(spark, sf_dir), ["event_id"], watermark="3650 days")
    got = _drain_window_updates(tumbling_counts(deduped, "1 hour"), str(tmp_path / "ck"))
    batch = load_table(spark, sf_dir, "events").dropDuplicates(["event_id"])
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.groupBy(F.window("ts", "1 hour").start.alias("window_start"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(dec("value")).cast("double").alias("sum_value"))
        .collect()
    }
    assert got == want and len(got) > 0

    slid = sliding_counts(streaming_dedup(events_stream(spark, sf_dir), ["event_id"], watermark="3650 days"))
    n = spark.table(run_to_memory(slid, output_mode="complete")).agg(F.sum("n_events")).first()[0]
    assert n == 2 * batch.count()  # 2 h windows sliding by 1 h: two windows per event


def test_stateful_restart_mid_stream_matches_uninterrupted_run(spark, tmp_path):
    """Crash-free restart in the middle of a stream: dedup -> tumbling window
    over files A, stop, add files B (new events plus exact duplicates of A's),
    restart on the same checkpoint.  The restarted query re-reads the state
    it committed (dedup keys and partial window counts), so the final
    per-window counts equal one uninterrupted run over A+B."""
    import datetime
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from sparkstreaming_quickstart_spark.streaming.pipeline import streaming_dedup

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1, 10, 0)

    def event(i):
        ts = t0 + datetime.timedelta(minutes=7 * i)
        return (i, ts, i % 5, ("click", "view", "purchase")[i % 3], round(1.25 * i, 2))

    a = [event(i) for i in range(0, 40)]
    b = [event(i) for i in range(40, 80)] + [event(i) for i in range(0, 40, 3)]
    src = tmp_path / "src"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / name))

    def chain():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(os.path.join(src, "*"))
        deduped = streaming_dedup(stream, ["event_id"], watermark="1 day")
        return tumbling_counts(deduped, "1 hour")

    write("a0", a[:20])
    write("a1", a[20:])
    ckpt = str(tmp_path / "ck")
    restarted = _drain_window_updates(chain(), ckpt)
    write("b0", b[:27])
    write("b1", b[27:])
    restarted = _drain_window_updates(chain(), ckpt, restarted)
    assert any(p.endswith(".delta") for _d, _s, fs in os.walk(os.path.join(ckpt, "state")) for p in fs)

    uninterrupted = _drain_window_updates(chain(), str(tmp_path / "ck-once"))
    assert restarted == uninterrupted
    assert sum(n for n, _s in uninterrupted.values()) == 80


def test_small_stream_files_pack_into_default_parallelism_splits(spark, tmp_path):
    """A backlog of many small Confluent-wire files is planned by Spark's own
    split sizing: files pack into at most one decode task per core instead
    of one task per file, and every record still decodes to its truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sparkstreaming_quickstart_spark.streaming.avro_wire import decode_confluent_avro, wire_encode

    v1 = {"type": "record", "name": "m", "fields": [
        {"name": "name", "type": "string"}, {"name": "age", "type": "long"}]}
    v2 = {"type": "record", "name": "m", "fields": v1["fields"] + [
        {"name": "email", "type": ["null", "string"]}]}
    n_files, per_file = 16, 25
    assert n_files > spark.sparkContext.defaultParallelism
    src = tmp_path / "src"
    src.mkdir()
    truth = {}
    for f in range(n_files):
        offsets, values = [], []
        for o in range(f * per_file, (f + 1) * per_file):
            if o % 4 == 0:
                rec, sid = {"name": f"u{o}", "age": o, "email": f"u{o}@example.org"}, 2
            else:
                rec, sid = {"name": f"u{o}", "age": o}, 1
            offsets.append(o)
            values.append(wire_encode(sid, rec, v2 if sid == 2 else v1))
            truth[o] = (sid, rec["name"], rec["age"], rec.get("email"))
        pq.write_table(pa.table({"offset": offsets, "value": values}), str(src / f"{f:02d}.parquet"))

    stream = spark.readStream.schema("offset long, value binary").parquet(str(src))
    reader = StructType([
        StructField("name", StringType()), StructField("age", LongType()), StructField("email", StringType())
    ])
    decoded = decode_confluent_avro(stream, reader, {1: v1, 2: v2})
    partitions, got = [], {}

    def sink(df, epoch_id):
        partitions.append(df.rdd.getNumPartitions())
        got.update({r.offset: (r.schema_id, r.name, r.age, r.email) for r in df.collect()})

    q = (
        decoded.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(partitions) == 1 and partitions[0] <= spark.sparkContext.defaultParallelism
    assert got == truth


def test_runtime_confs_differ_from_spark_defaults(spark):
    """Every conf tune() sets is runtime-settable and changes something: a
    value equal to Spark's own default is a restatement to delete."""
    from sparkstreaming_quickstart_spark.session import RUNTIME_CONFS

    sql_conf = getattr(getattr(spark._jvm.org.apache.spark.sql.internal, "SQLConf$"), "MODULE$")
    for key, value in RUNTIME_CONFS.items():
        assert spark.conf.isModifiable(key), key
        entry = sql_conf.getConfigEntry(key)
        while entry.getClass().getSimpleName() == "FallbackConfigEntry":
            entry = entry.fallback()  # e.g. arrow.pyspark.enabled -> arrow.enabled
        convert = entry.valueConverter()
        assert convert.apply(value) != convert.apply(entry.defaultValueString()), key


def test_every_defaulted_parameter_is_passed_by_some_call():
    """A defaulted parameter of a module-level package function that no call
    passes, by keyword or by position, is an option no caller sets: make it
    a constant.  Calls match the callee by name, across the package,
    tools/, perfbench/, tests/, bench.py and __spark_entry__.py."""
    import ast
    import math
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    package = sorted((root / "sparkstreaming_quickstart_spark").rglob("*.py"))
    callers = package + [p for d in ("tools", "perfbench", "tests") for p in sorted((root / d).rglob("*.py"))]
    callers += [root / "bench.py", root / "__spark_entry__.py"]
    n_positional: dict[str, float] = {}
    keywords: set[tuple[str, str | None]] = set()  # (callee, None): a **kwargs call
    for path in callers:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                starred = any(isinstance(a, ast.Starred) for a in node.args)
                n_positional[name] = max(n_positional.get(name, 0), math.inf if starred else len(node.args))
                keywords.update((name, k.arg) for k in node.keywords)
    offenders = []
    for path in package:
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            positional = fn.args.posonlyargs + fn.args.args
            first = len(positional) - len(fn.args.defaults)
            defaulted = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
            defaulted += [(math.inf, p.arg) for p, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]
            for index, param in defaulted:
                if {(fn.name, param), (fn.name, None)} & keywords or n_positional.get(fn.name, 0) > index:
                    continue
                offenders.append(f"{path.relative_to(root)}:{fn.lineno} {fn.name}.{param}")
    assert not offenders, "defaulted parameters that no call passes:\n" + "\n".join(offenders)


def test_state_partitions_are_the_cores_unless_a_caller_sets_them(spark, sf_dir, monkeypatch):
    """One shuffle-partition policy: on a local master tune() sets the count
    to the session's cores when nobody set it, and a caller's own value
    survives tune() and run_to_memory; the drained stateful query runs one
    state store per partition of that value."""
    from pyspark.sql.streaming import StreamingQuery

    from sparkstreaming_quickstart_spark.session import tune

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    seen = {}
    await_termination = StreamingQuery.awaitTermination

    def spy(self, timeout=None):
        seen["query"] = self
        return await_termination(self, timeout)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    prev = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        assert key not in spark.conf.getAll
        assert tune(spark).conf.get(key) == str(cores)
        spark.conf.set(key, str(cores + 5))
        assert tune(spark).conf.get(key) == str(cores + 5)
        counts = events_stream(spark, sf_dir).groupBy("event_type").count()
        table = run_to_memory(counts, output_mode="complete")
        assert spark.conf.get(key) == str(cores + 5)
    finally:
        spark.conf.set(key, prev)
    ops = [op for p in seen["query"].recentProgress for op in p["stateOperators"]]
    assert ops and all(op["numShufflePartitions"] == cores + 5 for op in ops)
    assert spark.table(table).count() == load_table(spark, sf_dir, "events").select("event_type").distinct().count()


def test_only_session_tune_writes_shuffle_partitions():
    """The shuffle partition count has one owner: outside tests, a string
    naming spark.sql.shuffle.partitions (a conf set, a builder config, a SQL
    SET) appears only inside session.tune().  Docstrings are prose."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    paths = sorted((root / "sparkstreaming_quickstart_spark").rglob("*.py")) + sorted((root / "tools").rglob("*.py"))
    paths += [root / "bench.py", root / "__spark_entry__.py"]
    owner_file, hits, allowed = "sparkstreaming_quickstart_spark/session.py", set(), set()
    for path in paths:
        rel = str(path.relative_to(root))
        tree = ast.parse(path.read_text())
        docstrings = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
        for node in ast.walk(tree):
            if rel == owner_file and isinstance(node, ast.FunctionDef) and node.name == "tune":
                allowed |= {(rel, line) for line in range(node.lineno, node.end_lineno + 1)}
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "spark.sql.shuffle.partitions" in node.value
                and id(node) not in docstrings
            ):
                hits.add((rel, node.lineno))
    assert hits and hits <= allowed, sorted(hits - allowed)


def test_drains_without_checkpoint_leave_no_checkpoint_dir(spark, sf_dir):
    """run_to_memory and run_foreach_batch set no checkpointLocation of
    their own: Spark's temporary checkpoint is deleted when the query ends
    without error, so a drain leaves nothing behind under the temp dir."""
    import glob
    import os

    def checkpoint_dirs():
        tmp = tempfile.gettempdir()
        return {p for pat in ("ssq-checkpoint-*", "temporary-*") for p in glob.glob(os.path.join(tmp, pat))}

    before = checkpoint_dirs()
    table = run_to_memory(tumbling_counts(events_stream(spark, sf_dir)), output_mode="complete")
    seen: list[int] = []
    run_foreach_batch(events_stream(spark, sf_dir), lambda df, epoch_id: seen.append(df.count())).awaitTermination()
    assert checkpoint_dirs() - before == set()
    assert sorted(map(tuple, spark.table(table).collect())) == _batch_tumbling_rows(spark, sf_dir)
    assert sum(seen) == load_table(spark, sf_dir, "events").count()


def test_events_stream_reads_nanosecond_ts_as_timestamp(spark, tmp_path):
    """events.parquet written with TIMESTAMP(NANOS) reads as long under the
    session's nanosAsLong; events_stream turns it into a TimestampType ts
    carrying the written instants.  The replay reads the table in place:
    other files in the same dir are not replayed, and no copy of the table
    is made under the temp dir."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    def staged_dirs():
        # the old staging name, ssq-events-<hex key>; not q374's ssq-events-part-* cache
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "ssq-events-[0-9a-f]*")))

    before = staged_dirs()
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), str(tmp_path / "documents.parquet"))
    (tmp_path / "README.md").write_text("not a table\n")

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789, 1_700_003_600_000_001]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
                "user_id": pa.array([7, 8, 9], pa.int64()),
                "event_type": ["click", "view", "error"],
                "value": [1.5, 2.5, 3.5],
                "props": ["{}", "{}", "{}"],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    table = run_to_memory(events_stream(spark, str(tmp_path)))
    out = spark.table(table)
    assert out.schema["ts"].dataType == TimestampType()
    assert out.count() == 3
    got = sorted(map(tuple, out.select("event_id", F.unix_micros("ts")).collect()))
    assert got == [(1, micros[0]), (2, micros[1]), (3, micros[2])]
    assert staged_dirs() - before == set()


def test_state_store_and_upsert_queries_leave_no_temp_dir(spark, sf_dir):
    """q163 drains into a checkpoint dir and q177 into a table dir of their
    own; each dir is gone once the query returns, and the returned rows,
    pinned before it went, still equal the oracle."""
    import glob
    import os

    from sparkstreaming_quickstart_spark.oracle import compare
    from sparkstreaming_quickstart_spark.queries import all_queries

    def query_dirs():
        tmp = tempfile.gettempdir()
        return {p for pat in ("ssq-statestore-*", "ssq-upsert-*") for p in glob.glob(os.path.join(tmp, pat))}

    queries = all_queries()
    before = query_dirs()
    for name in ("q163_state_store_reader", "q177_foreachbatch_upsert"):
        res = compare(spark, sf_dir, queries[name].fn, queries[name].sql)
        assert res["ok"] and res["spark_rows"] > 0, (name, res)
    assert query_dirs() - before == set()
