"""Wave 42 (round 13): stream-stream join feeding a second stateful
operator -- the third streaming<->batch time-state family.

- q397 chained JOIN -> WINDOW: a stream-stream interval join (errors with
  their trailing-1h clicks) feeding a tumbling-window aggregation over the
  LEFT side's event time, drained in APPEND mode -- the multiple-stateful-
  operator composition Spark 3.5+/4.x added (SPARK-40925), with the
  emission rule replayed EXACTLY in the oracle.  q146/q179 prove the join
  family's emission rules and q159 proves agg-over-agg chaining; this
  entry proves JOIN-over-agg chaining, whose correctness hinges on
  WATERMARK PROPAGATION: the join's output watermark must lag the global
  watermark by the join delay (1h here, minus 1 ms -- Spark's inclusive-
  bound guard), else a click arriving late in a micro-batch would produce
  a joined row whose e_ts the downstream window had already finalized.
  The oracle replays exactly that: a window emits iff window_end <
  (min-side ms-truncated max event time - 2h delay - the 1h join state
  retention), strict.  A time-sliced multi-split replay test pins that
  the emitted set is micro-batch-boundary independent.

Reference parity note: the reference computes none of this (its single
pipeline is Kafka->println, Processor.java:118-139); this is engine-surface
streaming composition in the charter's streaming family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register

# The join's state-retention delay on the propagated watermark: clicks can
# trail an error by up to 1h, so the join operator's output watermark (what
# the downstream window agg finalizes against) is the global watermark minus
# this interval MINUS 1 ms (Spark's inclusive-bound guard in the state-value
# watermark), which the oracle spells as a STRICT `<` on the hour-aligned
# window ends.  Pinned empirically on a hand-built boundary corpus where
# 0-delay, 1h-delay-inclusive and 2h-delay rules all disagree
# (tests/test_wave42.py::test_q397_emission_lags_by_join_delay), and at sf1
# where the delayed and undelayed rules differ by one emitted window
# (709 vs 710 rows, engine = 709).
_Q397_JOIN_DELAY = "1 HOUR"

_Q397_ORACLE = f"""
    WITH err AS (
        SELECT event_id AS error_id, user_id AS e_user, ts AS e_ts
        FROM events WHERE event_type = 'error'),
    clk AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts, value
        FROM events WHERE event_type = 'click'),
    wm AS (
        SELECT date_trunc('milliseconds',
                   least((SELECT max(e_ts) FROM err), (SELECT max(c_ts) FROM clk)))
               - INTERVAL 2 HOUR - INTERVAL {_Q397_JOIN_DELAY} AS w),
    j AS (
        SELECT e.e_ts, c.value
        FROM err e JOIN clk c
          ON e.e_user = c.c_user
         AND c.c_ts BETWEEN e.e_ts - INTERVAL 1 HOUR AND e.e_ts),
    agg AS (
        SELECT TIMESTAMP '1970-01-01'
                   + CAST(floor(epoch(e_ts) / 3600) * 3600 AS BIGINT)
                     * INTERVAL 1 SECOND AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
        FROM j GROUP BY 1)
    SELECT window_start, n_pairs, click_value
    FROM agg, wm
    WHERE window_start + INTERVAL 1 HOUR < wm.w
    ORDER BY window_start
    """


@register(
    "q397_stream_join_window_rollup",
    sql=_Q397_ORACLE,
    doc="CHAINED stream-stream interval join -> tumbling-window aggregation "
    "in ONE streaming query, APPEND mode (multiple stateful operators "
    "with a JOIN upstream, SPARK-40925) -- the third streaming<->batch "
    "time-state family (q394 session state, q146/q179 join state, now "
    "their composition).  Errors join their trailing-1h clicks per user, "
    "and the matched pairs roll up into 1h tumbling windows of the "
    "error-side event time with an exact DECIMAL click-value sum.  The "
    "emission rule hinges on WATERMARK PROPAGATION through the join: "
    "its output watermark lags the global watermark by the 1h join "
    "delay (a late-arriving click may produce a joined row up to 1h "
    "older than the input watermark), minus 1 ms (the engine's inclusive-"
    "bound guard), so a window emits iff its end < min-side ms-truncated "
    "max event time - 2h delay - 1h retention, STRICT -- the oracle "
    "replays exactly that (boundary-pinned in tests), and a time-sliced multi-split "
    "replay test pins batch-boundary independence.  At 100 TB: both "
    "join sides shuffle once on user_id with watermark-bounded state, "
    "the rollup adds one shuffle on the window key; the decimal sum "
    "keeps the rollup exact under any micro-batch split.",
)
def q397_stream_join_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import run_to_memory
    from ..streaming.source import events_stream

    agg = _q397_agg(lambda: events_stream(spark, sf_dir))
    table = run_to_memory(agg, output_mode="append")
    return spark.table(table).orderBy("window_start")


def _q397_agg(mk_events) -> DataFrame:
    """join -> window plan over an events-shaped STREAMING source
    (`mk_events()` returns a fresh stream per call -- two sides of a
    stream-stream self-join each get their own source node, the q73/q146/
    q179 join; factored out so the emission-rule and split-replay tests
    run the identical plan over synthetic/sliced streams)."""
    from ..functions.money import dec
    from .streaming import _errors_join_clicks

    joined = _errors_join_clicks(mk_events, "inner")
    return (
        joined.groupBy(F.window("e_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(dec("c_value")).cast("double").alias("click_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_pairs", "click_value"
        )
    )
