"""Wave-42 tests: chained stream-stream join -> window aggregation (q397).

Two properties carry the value oracle:
1. The EMISSION rule: the downstream window finalizes against the JOIN's
   output watermark = global watermark - the 1h join delay (watermark
   propagation through multiple stateful operators, SPARK-40925).  Pinned
   on a hand-built boundary corpus where the delayed and undelayed rules
   provably disagree.
2. SPLIT INDEPENDENCE: a forced 3-micro-batch time-sliced replay must
   emit exactly the registered single-batch drain's window set.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.sources.catalog import load_table
from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory


def _stage_events(spark, rows, stage, n_files=1, mtimes=None):
    """Write events-shaped rows as n_files parquet files with pinned mtimes
    (replay order) into `stage`, through a `<stage>-work` sibling dir;
    returns the stream schema used."""
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    workdir = f"{stage}-work"
    now = time.time()
    for i, part in enumerate(df.randomSplit([1.0] * n_files, seed=7) if n_files > 1 else [df]):
        part.coalesce(1).write.mode("overwrite").parquet(os.path.join(workdir, f"p{i}"))
        f = glob.glob(os.path.join(workdir, f"p{i}", "*.parquet"))[0]
        tgt = os.path.join(stage, f"{i}.parquet")
        shutil.copy(f, tgt)
        t = (mtimes[i] if mtimes else now - 300 + i * 100)
        os.utime(tgt, (t, t))
    return df.schema


def _ts(s: str):
    return datetime.fromisoformat(s)


def test_q397_emission_lags_by_join_delay(spark, tmp_path):
    """Hand-built boundary corpus: global watermark = 10:00 - 2h = 08:00;
    join-output watermark = 08:00 - 1h - 1ms = 06:59:59.999.  One matched
    pair per hour window [04:00..08:00): ends 05:00 and 06:00 emit, ends
    07:00 and 08:00 are WITHHELD.  This pins the propagation delay to
    exactly the 1h join interval (strict): an UNDELAYED rule would emit
    end 07:00 (even end 08:00 inclusive), a 2h-delay or 1h-INCLUSIVE-at-
    2h-strict rule would withhold end 06:00 -- every neighboring rule
    provably disagrees with some row, so the q397 oracle's
    `window_end < wm - 2h - 1h` clause is the engine's actual rule."""
    from sparkstreaming_quickstart_spark.queries.wave42 import _q397_agg

    rows = [
        (1, _ts("2024-01-01 04:15:00"), 5, "click", 1.0, "{}"),
        (2, _ts("2024-01-01 04:30:00"), 5, "error", 0.0, "{}"),
        (3, _ts("2024-01-01 05:15:00"), 6, "click", 1.5, "{}"),
        (4, _ts("2024-01-01 05:30:00"), 6, "error", 0.0, "{}"),
        (5, _ts("2024-01-01 06:15:00"), 1, "click", 2.0, "{}"),
        (6, _ts("2024-01-01 06:30:00"), 1, "error", 0.0, "{}"),
        (7, _ts("2024-01-01 07:00:00"), 2, "click", 4.0, "{}"),
        (8, _ts("2024-01-01 07:30:00"), 2, "error", 0.0, "{}"),
        # watermark anchors at 10:00 on BOTH sides (no matches: user 9)
        (9, _ts("2024-01-01 10:00:00"), 9, "click", 8.0, "{}"),
        (10, _ts("2024-01-01 10:00:00"), 9, "error", 0.0, "{}"),
    ]
    stage = str(tmp_path / "stage")
    os.mkdir(stage)
    schema = _stage_events(spark, rows, stage)
    agg = _q397_agg(lambda: spark.readStream.schema(schema).parquet(stage))
    table = run_to_memory(agg, output_mode="append")
    got = {
        (r["window_start"], r["n_pairs"], r["click_value"])
        for r in spark.table(table).collect()
    }
    assert got == {
        (_ts("2024-01-01 04:00:00"), 1, 1.0),
        (_ts("2024-01-01 05:00:00"), 1, 1.5),
    }, got
    # and the ORACLE's rule replays the same decision on this corpus
    import duckdb

    from sparkstreaming_quickstart_spark.queries.wave42 import _Q397_ORACLE

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO events VALUES (?,?,?,?,?,?)", rows)
    want = {
        (r[0], r[1], r[2]) for r in con.execute(_Q397_ORACLE).fetchall()
    }
    assert got == want, (got, want)


def test_q397_join_window_split_independent(spark, sf_dir, tmp_path):
    """Force 3 micro-batches (contiguous time slices, mtime-pinned replay
    order) -- because the slices are time-contiguous, a window's error may
    arrive a batch AFTER its matching click, so the joined row enters the
    window agg when the input watermark has already advanced: only the
    join-delayed output watermark keeps it from being late-dropped.  The
    appended window set must equal the registered single-file drain."""
    from sparkstreaming_quickstart_spark.queries.wave42 import (
        _q397_agg,
        q397_stream_join_window_rollup,
    )

    src = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    t1, t2 = (
        src.selectExpr(
            "percentile(cast(ts as double), 0.33) as a",
            "percentile(cast(ts as double), 0.66) as b",
        )
        .collect()[0]
    )
    slices = [
        src.filter(F.col("ts").cast("double") < t1),
        src.filter(
            (F.col("ts").cast("double") >= t1) & (F.col("ts").cast("double") < t2)
        ),
        src.filter(F.col("ts").cast("double") >= t2),
    ]
    workdir, stage = str(tmp_path / "parts"), str(tmp_path / "stage")
    os.mkdir(stage)
    now = time.time()
    for i, part in enumerate(slices):
        part.coalesce(1).write.parquet(os.path.join(workdir, f"p{i}"))
        f = glob.glob(os.path.join(workdir, f"p{i}", "*.parquet"))[0]
        tgt = os.path.join(stage, f"{i}.parquet")
        shutil.copy(f, tgt)
        os.utime(tgt, (now - 300 + i * 100, now - 300 + i * 100))

    agg = _q397_agg(
        lambda: spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    table = run_to_memory(agg, output_mode="append")
    got = {
        (r["window_start"], r["n_pairs"], r["click_value"])
        for r in spark.table(table).collect()
    }
    want = {
        (r["window_start"], r["n_pairs"], r["click_value"])
        for r in q397_stream_join_window_rollup(spark, sf_dir).collect()
    }
    assert got == want and want, (len(got), len(want))
