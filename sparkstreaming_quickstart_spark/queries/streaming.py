"""Streaming queries registered with the driver (run via availableNow into a
memory sink, then returned as a batch DataFrame).

Structured Streaming's prefix-consistency guarantee means a drained stream
equals the batch computation over the same data -- so these entries carry
REAL SQL oracles (DuckDB computes the batch equivalent).  Window aggregations
use `complete` output mode so trailing windows (still within the watermark
at end-of-input) are emitted; dedup uses `append`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.pipeline import run_to_memory, streaming_dedup, tumbling_counts
from ..streaming.source import events_stream
from . import register
from .advanced import SESSION_WINDOW_ORACLE


@register(
    "q70_stream_tumbling",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
    doc="Structured Streaming tumbling 1h window + watermark, drained with "
    "availableNow; oracle = batch equivalent (prefix consistency).",
)
def q70_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = tumbling_counts(stream, "1 hour", "2 hours")
    table = run_to_memory(agg, output_mode="complete")
    return spark.table(table).orderBy("window_start", "event_type")


@register(
    "q71_stream_sliding",
    sql="""
    WITH contrib AS (
        SELECT date_trunc('hour', ts) AS window_start FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start FROM events)
    SELECT window_start, COUNT(*) AS n_events
    FROM contrib
    GROUP BY window_start
    ORDER BY window_start
    """,
    doc="Sliding 2h/1h streaming windows; oracle expands each event into its "
    "two containing windows.",
)
def q71_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import sliding_counts

    stream = events_stream(spark, sf_dir)
    agg = sliding_counts(stream, "2 hours", "1 hour")
    table = run_to_memory(agg, output_mode="complete")
    return spark.table(table).orderBy("window_start")


@register(
    "q72_stream_dedup",
    sql="""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    doc="Streaming dropDuplicates on (user_id, event_type); oracle = batch DISTINCT.",
)
def q72_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    deduped = streaming_dedup(stream, ["user_id", "event_type"], within_watermark=False)
    table = run_to_memory(deduped, output_mode="append")
    return (
        spark.table(table)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("user_id", "event_type")
    )


@register(
    "q75_stream_static_join",
    sql="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    doc="Stream-static join: streaming events enriched against the static "
    "customer dim (broadcast; no state, re-resolved per micro-batch).",
)
def q75_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    stream = events_stream(spark, sf_dir)
    customers = load_table(spark, sf_dir, "customer")
    joined = stream.join(F.broadcast(customers), stream.user_id == customers.c_custkey).select(
        "event_id", "c_mktsegment"
    )
    table = run_to_memory(joined, output_mode="append")
    return (
        spark.table(table)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"))
        .orderBy("c_mktsegment")
    )


@register(
    "q74_stream_stateful_counts",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): running "
    "per-user counters; replaces the DStream mapWithState the reference's "
    "checkpoint comment anticipated (Processor.java:62-64) but never built. "
    "Oracle = batch aggregate (single-replay drain emits final state).",
)
def q74_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # accumulate exact integer cents (value is a 2-decimal double)
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]})

    stream = events_stream(spark, sf_dir)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    table = run_to_memory(counted, output_mode="update")
    # Update mode appends one row per (user, micro-batch) to the memory sink;
    # reduce to the final state per key (n_events strictly increases across a
    # user's emissions) so the result is correct under any batch split
    # (maxFilesPerTrigger, multi-file events dir), not just a single-batch
    # drain.
    return (
        spark.table(table)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "q73_stream_stream_join",
    sql="""
    SELECT e.event_id AS error_id, c.event_id AS click_id
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND c.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
    ORDER BY error_id, click_id
    """,
    doc="Stream-stream interval join (errors x clicks within trailing 1h, "
    "watermarked both sides).",
)
def q73_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "2 hours")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("e_ts")),
    ).select("error_id", "click_id")
    table = run_to_memory(joined, output_mode="append")
    return spark.table(table).orderBy("error_id", "click_id")


def _has_protobuf() -> bool:
    # transformWithStateInPandas speaks a protobuf protocol to the JVM state
    # server; PySpark ships the generated stubs but not protobuf itself.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _maybe_register_tws(fn):
    """Register q76 only where its runtime dependency (protobuf) exists.

    The operator itself is fully implemented; in a container without
    protobuf the registration is skipped so the driver contract only
    advertises runnable queries.  q74 (applyInPandasWithState) covers the
    same stateful-streaming surface everywhere.
    """
    if _has_protobuf():
        return register(
            "q76_stream_transform_with_state",
            sql="""
            SELECT user_id, COUNT(*) AS n_events,
                   MIN(value) AS min_value, MAX(value) AS max_value
            FROM events
            GROUP BY user_id
            ORDER BY user_id
            """,
            doc="Stateful streaming via transformWithStateInPandas (Spark >=4.0), "
            "the successor API to q74's applyInPandasWithState: per-user "
            "ValueState running (count, min, max).  Oracle = batch aggregate "
            "(single-replay drain emits final state).",
        )(fn)
    return fn


@_maybe_register_tws
def q76_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("min_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )

    class RunningExtremes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [
                    StructField("n", LongType()),
                    StructField("mn", DoubleType()),
                    StructField("mx", DoubleType()),
                ]
            )
            self._state = handle.getValueState("extremes", schema)

        def handleInputRows(self, key, rows, timerValues):
            n, mn, mx = self._state.get() if self._state.exists() else (0, None, None)
            for pdf in rows:
                n += len(pdf)
                bmn, bmx = float(pdf["value"].min()), float(pdf["value"].max())
                mn = bmn if mn is None else min(mn, bmn)
                mx = bmx if mx is None else max(mx, bmx)
            self._state.update((n, mn, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "min_value": [mn], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    stream = events_stream(spark, sf_dir)
    out = stream.groupBy("user_id").transformWithStateInPandas(
        RunningExtremes(), out_schema, "Update", "None"
    )
    table = run_to_memory(out, output_mode="update")
    # Same final-state reduction as q74: update mode emits per micro-batch.
    return (
        spark.table(table)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("min_value", "n_events").alias("min_value"),
            F.max_by("max_value", "n_events").alias("max_value"),
        )
        .orderBy("user_id")
    )


@register(
    "q84_stream_session_window",
    sql=SESSION_WINDOW_ORACLE,
    doc="STREAMING session_window (30-min gap) with watermark, drained via "
    "availableNow -- the stateful merging-session operator; shares q35's "
    "batch gaps-and-islands oracle (prefix consistency).",
)
def q84_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    table = run_to_memory(agg, output_mode="complete")
    return spark.table(table).orderBy("user_id", "session_start")


@register(
    "q146_stream_stream_left_outer",
    sql="""
    WITH err AS (
        SELECT event_id AS error_id, user_id AS e_user, ts AS e_ts
        FROM events WHERE event_type = 'error'),
    clk AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'),
    wm AS (
        SELECT date_trunc('milliseconds',
                   least((SELECT max(e_ts) FROM err), (SELECT max(c_ts) FROM clk)))
               - INTERVAL 2 HOUR AS w),
    j AS (
        SELECT e.error_id, c.click_id, e.e_ts
        FROM err e LEFT JOIN clk c
          ON e.e_user = c.c_user
         AND c.c_ts BETWEEN e.e_ts - INTERVAL 1 HOUR AND e.e_ts)
    SELECT error_id, click_id FROM j, wm
    WHERE click_id IS NOT NULL OR e_ts < w
    ORDER BY error_id, click_id
    """,
    doc="Stream-stream LEFT OUTER interval join: errors with their trailing-"
    "1h clicks, null-extended when no click arrived.  Outer results can "
    "only emit once the watermark passes the error's join window, so the "
    "oracle replays the engine's exact emission rule: the final watermark "
    "is min over both sides of (max event time, ms precision) - 2h, and "
    "an unmatched error emits iff e_ts < that watermark (still-open rows "
    "are withheld -- correct streaming semantics, not missing data).  "
    "State size is bounded by the watermark on both sides.",
)
def q146_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "2 hours")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "left_outer",
    ).select("error_id", "click_id")
    table = run_to_memory(joined, output_mode="append")
    return spark.table(table).orderBy("error_id", "click_id")


@register(
    "q152_stream_global_topk",
    sql="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id ASC
    LIMIT 10
    """,
    doc="Streaming global top-10 users by lifetime spend: complete output "
    "mode is the one mode that permits sorting/limit in the streaming "
    "query itself, re-emitting the full (bounded, user-cardinality) "
    "leaderboard each batch.  The running sum is exact DECIMAL, so the "
    "incremental result equals the batch oracle bit-for-bit under any "
    "micro-batch split.  State is one row per user -- fine for a "
    "leaderboard-sized key space; an unbounded key domain would call for "
    "the q132 approx_top_k sketch instead (noted, not hidden).",
)
def q152_stream_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.money import dec

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy(F.col("total_value").desc(), F.col("user_id").asc())
        .limit(10)
    )
    table = run_to_memory(agg, output_mode="complete")
    return spark.table(table).orderBy(F.col("total_value").desc(), F.col("user_id").asc())


@register(
    "q159_stream_chained_windows",
    sql="""
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w FROM events),
    rollup6 AS (
        SELECT TIMESTAMP '1970-01-01'
                   + CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) * INTERVAL 1 SECOND
                   AS window_start,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT floor(epoch(ts) / 3600)) AS n_subwindows,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events, n_subwindows, total_value
    FROM rollup6, wm
    WHERE window_start + INTERVAL 6 HOUR <= wm.w
    ORDER BY window_start, event_type
    """,
    doc="CHAINED stateful operators (Spark 3.5+/4.x multiple-stateful-ops "
    "support): a 1-hour tumbling aggregation feeds a second 6-hour window "
    "aggregation over window_time() of the first, both in one streaming "
    "query (append mode -- complete is not composable upstream).  The "
    "hierarchical-rollup shape of every metrics pipeline (minute->hour->"
    "day) without a second job or an intermediate topic.  State stays "
    "bounded: the shared watermark evicts both operators' windows.  The "
    "oracle replays the append-mode emission rule exactly: a 6h window "
    "emits iff its end <= final watermark (min ms-truncated max event "
    "time - 2h), so withheld trailing windows are correct semantics, not "
    "missing data.  The inner decimal sum keeps the rollup exact under "
    "any micro-batch split.",
)
def q159_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    hourly = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
    )
    six = (
        hourly.groupBy(F.window(F.window_time("w"), "6 hours").alias("w6"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_subwindows"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .select(
            F.col("w6.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_subwindows",
            "total_value",
        )
    )
    table = run_to_memory(six, output_mode="append")
    return spark.table(table).orderBy("window_start", "event_type")


@register(
    "q163_state_store_reader",
    sql="""
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w FROM events),
    h AS (
        SELECT TIMESTAMP '1970-01-01'
                   + CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * INTERVAL 1 SECOND
                   AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events
    FROM h, wm
    WHERE window_start + INTERVAL 1 HOUR > wm.w
    ORDER BY window_start, event_type
    """,
    doc="Spark 4 State Data Source: drain an hourly windowed aggregation "
    "with availableNow (append mode), then read the live operator state "
    "BACK out of the checkpoint with spark.read.format('statestore') -- "
    "the state-introspection/debugging path for a production streaming "
    "job (inspect skew, hot keys, or stuck windows without stopping the "
    "query).  Append mode emits a window iff window.end <= watermark "
    "(probed, boundary inclusive), so the retained state is exactly the "
    "complement: windows with end > final watermark -- which is what the "
    "oracle computes from batch.  The emitted/retained split here and in "
    "q159 are two views of the same eviction rule.",
)
def q163_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="ssq-statestore-")
    stream = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n_events")
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    # The state schema uses physical names, not query aliases (probed): the
    # key's window field is `window`, the value's single aggregation buffer
    # is `count` -- resolve the buffer by position to stay robust.
    buf = state.schema["value"].dataType.names[0]
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{buf}").alias("n_events"),
    ).orderBy("window_start", "event_type")


@register(
    "q164_stream_dedup_within_watermark",
    sql="""
    SELECT DISTINCT user_id, event_type FROM events
    ORDER BY user_id, event_type
    """,
    doc="dropDuplicatesWithinWatermark (Spark 3.5+): streaming dedup whose "
    "state carries a TTL -- a key's state is dropped once the watermark "
    "passes its last-seen event time + delay (each duplicate refreshes "
    "the expiry; probed in test_dedup_within_watermark_ttl_reemits), so "
    "state size is bounded by the watermark horizon instead of growing "
    "with lifetime key cardinality (the difference that matters at "
    "100 TB: q72's plain dropDuplicates state never shrinks).  A key "
    "re-emits if it recurs after its state expired, so the output is "
    "reduced to DISTINCT keys, which is split-invariant (correct under "
    "any micro-batch replay, the q74 lesson).",
)
def q164_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    dd = stream.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    table = run_to_memory(dd, output_mode="append")
    return (
        spark.table(table)
        .select("user_id", "event_type")
        .distinct()
        .orderBy("user_id", "event_type")
    )


@register(
    "q179_stream_stream_full_outer",
    sql="""
    WITH err AS (
        SELECT event_id AS error_id, user_id AS e_user, ts AS e_ts
        FROM events WHERE event_type = 'error'),
    clk AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
        FROM events WHERE event_type = 'click'),
    wm AS (
        SELECT date_trunc('milliseconds',
                   least((SELECT max(e_ts) FROM err), (SELECT max(c_ts) FROM clk)))
               - INTERVAL 2 HOUR AS w),
    matched AS (
        SELECT e.error_id, c.click_id
        FROM err e JOIN clk c
          ON e.e_user = c.c_user
         AND c.c_ts BETWEEN e.e_ts - INTERVAL 1 HOUR AND e.e_ts),
    un_err AS (
        SELECT e.error_id, NULL AS click_id
        FROM err e, wm
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.error_id = e.error_id)
          AND e.e_ts < wm.w),
    un_clk AS (
        SELECT NULL AS error_id, c.click_id
        FROM clk c, wm
        WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
          AND c.c_ts + INTERVAL 1 HOUR < wm.w)
    SELECT error_id, click_id FROM matched
    UNION ALL SELECT * FROM un_err
    UNION ALL SELECT * FROM un_clk
    ORDER BY error_id NULLS LAST, click_id NULLS LAST
    """,
    doc="Stream-stream FULL OUTER interval join -- completes the streaming "
    "join matrix (inner q73, left-outer q146): every error pairs with its "
    "trailing-1h clicks, and BOTH unmatched sides null-extend once the "
    "watermark proves no match can still arrive.  The oracle replays both "
    "emission rules exactly: an unmatched error emits iff e_ts < watermark "
    "(its newest possible click is at e_ts), an unmatched click iff "
    "c_ts + 1h < watermark (its newest possible error is at c_ts + 1h) -- "
    "asymmetric bounds because the interval is one-sided.  State on both "
    "sides is watermark-evicted, so it stays bounded at any volume.",
)
def q179_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "2 hours")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "full_outer",
    ).select("error_id", "click_id")
    table = run_to_memory(joined, output_mode="append")
    return spark.table(table).orderBy(
        F.col("error_id").asc_nulls_last(), F.col("click_id").asc_nulls_last()
    )
