"""Multi-batch streaming fidelity: maxFilesPerTrigger paces the replay into
several micro-batches (the reference's batch-period discretization, A4), and
incremental aggregation still converges to the batch answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.sources.catalog import load_table
from sparkstreaming_quickstart_spark.streaming.pipeline import run_foreach_batch


def test_multi_batch_replay_incremental_agg(spark, sf_dir, tmp_path):
    # Split events into 4 files so availableNow + maxFilesPerTrigger=1 yields
    # 4 micro-batches.
    splitdir = str(tmp_path)
    src = load_table(spark, sf_dir, "events")
    src.repartition(4).write.mode("overwrite").parquet(splitdir)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitdir)
    )
    batches: list[int] = []
    totals: dict[str, float] = {}

    def sink(df, epoch_id):
        batches.append(df.count())
        for row in df.groupBy("event_type").agg(F.count("*").alias("n")).collect():
            totals[row.event_type] = totals.get(row.event_type, 0) + row.n

    q = run_foreach_batch(stream, sink)
    q.awaitTermination()

    assert len(batches) >= 4, f"expected >=4 micro-batches, got {len(batches)}"
    assert sum(batches) == src.count()
    expected = {r.event_type: r.n for r in src.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert totals == expected


def test_watermark_drops_late_data_across_batches(spark, sf_dir, tmp_path):
    """Late-data semantics, not just prefix consistency: rows arriving in a
    later micro-batch with event times older than the watermark are DROPPED
    from the windowed aggregation.  Watermark updates lag one batch, so the
    replay is three files -- two on-time halves (the first advances the
    watermark the second batch runs under), then the late half, which the
    third batch drops entirely.  Expected output = batch aggregation over
    the ON-TIME rows only, restricted to windows closed by the final
    watermark (append mode withholds still-open trailing windows)."""
    import glob
    import os
    import shutil
    import time

    src = load_table(spark, sf_dir, "events")
    # Double-cast goes via TIMESTAMP so the arithmetic works whether the
    # parquet reader surfaced ts as TIMESTAMP or TIMESTAMP_NTZ (UTC session).
    m = src.select(F.expr("percentile(cast(cast(ts as timestamp) as double), 0.5)").alias("m")).collect()[0].m
    ontime = src.filter(F.col("ts").cast("timestamp").cast("double") >= m)
    late = src.filter(F.col("ts").cast("timestamp").cast("double") < m)
    splits = [
        ontime.filter(F.col("event_id") % 2 == 0),
        ontime.filter(F.col("event_id") % 2 == 1),
        late,
    ]
    workdir, stage = str(tmp_path / "parts"), str(tmp_path / "stage")
    os.mkdir(stage)
    now = time.time()
    for i, part in enumerate(splits):
        part.coalesce(1).write.parquet(os.path.join(workdir, f"p{i}"))
        f = glob.glob(os.path.join(workdir, f"p{i}", "*.parquet"))[0]
        tgt = os.path.join(stage, f"{i}.parquet")
        shutil.copy(f, tgt)
        # file stream source picks up oldest-mtime first: pin the replay order
        os.utime(tgt, (now - 300 + i * 100, now - 300 + i * 100))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))  # watermark needs LTZ
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for p in q.recentProgress
    )
    assert dropped > 0, "the late batch must hit the watermark filter"
    got = {(r.ws, r.n) for r in spark.table("late_drop_test").select("ws", "n").collect()}
    final_wm = ontime.select(
        (F.max(F.col("ts").cast("timestamp")).cast("double") - 3600).alias("wm")
    ).collect()[0].wm
    expected = {
        (r.ws, r.n)
        for r in (
            ontime.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
            .filter(F.col("we").cast("timestamp").cast("double") <= final_wm)
        ).collect()
    }
    assert got == expected


def test_stateful_update_mode_final_state_under_multi_batch(spark, sf_dir, tmp_path):
    # Update-mode stateful queries emit one row per (key, micro-batch); the
    # registered q74 reduction must yield exactly the final state per key even
    # when the replay is split across several micro-batches (the single-batch
    # assumption the round-1 advice flagged).
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    splitdir = str(tmp_path)
    src = load_table(spark, sf_dir, "events")
    src.repartition(3).write.mode("overwrite").parquet(splitdir)

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType()), StructField("cents", LongType())])

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    stream = (
        spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(splitdir)
    )
    counted = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    table = run_to_memory(counted, output_mode="update")
    raw = spark.table(table)
    # multi-batch drain really produced interim emissions for some keys
    assert raw.count() > raw.select("user_id").distinct().count()
    final = (
        raw.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    expected = src.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("total_value"),
    )
    assert final.exceptAll(expected).count() == 0 and expected.exceptAll(final).count() == 0
