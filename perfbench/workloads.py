"""The two workloads, each run through the repository's public functions.

ingest_avro      Kafka-shaped Confluent-wire Avro files -> file stream source
                 -> streaming.avro_wire.decode_confluent_avro -> key/JSON value
                 projection -> foreachBatch sink.  Stateless.
stateful_events  events-shaped files -> streaming.pipeline.streaming_dedup
                 (within watermark) -> streaming.pipeline.tumbling_counts, in
                 update output mode -> foreachBatch sink.  JVM-only.  Its
                 traced run also times one pass over a fixed query mix from
                 the `queries` registry (`batch_probe`).

The benchmark owns only the input files, the sink and the checks.
"""

from __future__ import annotations

import json
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

import gen
from harness import Publisher, Tracer, failures, median, publish_now

# Warm-up at the offered rate, before the measured phase.  After a 5 s
# (ingest) or 10 s (stateful) warm-up, the first 5-8 s of the measured
# batches still ran 20-40% slower than the rest of the run.
WARM_S = {"ingest_avro": 9.0, "stateful_events": 13.0}

# Open-loop schedule: one input file every TICK_S seconds at RATE records
# per second, both well below the seed's drain capacity.  Every file is a
# scan task of its own and the Avro decode costs per file more than per row,
# so ingest gets one file a second.  The stateful stream gets one every
# 0.25 s, shorter than its micro-batch, so new data always waits when a
# batch ends: at one a second the watermark's no-data batch sometimes ran
# in between and the latency flipped between two levels about 2x apart; at
# ten a second each batch scanned ~17 files.
TICK_S = {"ingest_avro": 1.0, "stateful_events": 0.25}
RATE = {"ingest_avro": 2000, "stateful_events": 500}
# Each drain publishes a backlog at once: (files, rows per file).  A run
# drains DRAINS of them, one after another, and reports the median rate: one
# drain of a six-wave ingest backlog still spread by a seventh between runs,
# and three 16-file stateful drains by a seventh, their batch's fixed cost
# being most of it.
BACKLOG = {"ingest_avro": (12, 2000), "stateful_events": (32, 1000)}
DRAINS = 3
# An untimed burst before the drain, so the drain does not pay for starting
# Python workers the steady phase never needed.
BURST_FILES = {"ingest_avro": 4, "stateful_events": 0}

WINDOW, WATERMARK = "2 seconds", "3 seconds"
WINDOW_US = 2_000_000

MIX = [
    "q01_pricing_summary",
    "q18_join_asof",
    "q55_similarity_ann_lsh",
    "q60_multimodal_meta",
]

READER_SCHEMA = StructType(
    [StructField("name", StringType()), StructField("age", IntegerType()), StructField("email", StringType())]
)
KAFKA_DDL = "key binary, value binary, topic string, partition int, offset bigint, timestamp timestamp"
EVENTS_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


# ---------------------------------------------------------------------------
# Streaming workloads
# ---------------------------------------------------------------------------


class Ingest:
    name = "ingest_avro"
    ddl = KAFKA_DDL
    output_mode = "append"

    def stage(self, seed, out_dir, n_files, per_file, first_file):
        tick = TICK_S[self.name]
        return gen.kafka_avro_files(
            seed, out_dir, n_files, per_file, tick, first_offset=first_file * per_file, first_due_s=first_file * tick
        )

    def build(self, stream):
        from sparkstreaming_quickstart_spark.streaming.avro_wire import decode_confluent_avro

        decoded = decode_confluent_avro(stream, READER_SCHEMA, gen.SCHEMA_MAP)
        return decoded.select(
            F.col("key").cast("string").alias("key"),
            F.to_json(F.struct("name", "age", "email")).alias("value"),
            "offset",
            "timestamp",
        )

    def newest_due_us(self, pdf: pd.DataFrame) -> int:
        """Schedule time (µs) of the newest record a micro-batch emitted."""
        return int(pdf["timestamp"].max().value // 1000)

    def check(self, truth: pd.DataFrame, out: pd.DataFrame) -> dict:
        vals = [json.loads(v) for v in out["value"]]
        got = pd.DataFrame(
            {
                "offset": out["offset"].to_numpy(),
                "key": out["key"].to_numpy(),
                "name": [v.get("name") for v in vals],
                "age": pd.array([v.get("age") for v in vals], dtype="Int64"),
            }
        )
        res = failures(truth, got, "offset", ["key", "name", "age"])
        res["attempted"] = len(truth)
        return res


class Events:
    name = "stateful_events"
    ddl = EVENTS_DDL
    output_mode = "update"

    def stage(self, seed, out_dir, n_files, per_file, first_file):
        tick = TICK_S[self.name]
        return gen.event_files(
            seed, out_dir, n_files, per_file, tick, first_id=first_file * per_file, first_due_s=first_file * tick
        )

    def build(self, stream):
        from sparkstreaming_quickstart_spark.streaming.pipeline import streaming_dedup, tumbling_counts

        # Both operators call withWatermark("ts", ...); Spark 4 rejects a
        # redefined watermark under its multi-operator propagation, so the
        # chain runs with the single global watermark of earlier releases.
        stream.sparkSession.conf.set("spark.sql.streaming.statefulOperator.allowMultiple", "false")
        deduped = streaming_dedup(stream, ["event_id"], watermark=WATERMARK, within_watermark=True)
        return tumbling_counts(deduped, window_size=WINDOW, watermark=WATERMARK)

    def index(self, truth: pd.DataFrame, due_us_of_file) -> None:
        """For each (window, type): schedule times of its original events in
        publish order, so a count of n was completed by the n-th of them."""
        orig = truth[~truth["dup"]].sort_values(["file", "event_id"], kind="stable")
        ws = (orig["ts"].to_numpy() // WINDOW_US) * WINDOW_US
        keys = pd.Series(ws.astype(str)) + "|" + orig["event_type"].to_numpy()
        dues = due_us_of_file(orig["file"].to_numpy())
        self.dues = {k: g.to_numpy() for k, g in pd.Series(dues).groupby(keys.to_numpy())}

    def newest_due_us(self, pdf: pd.DataFrame) -> int:
        newest = 0
        for k, n in zip(_window_keys(pdf), pdf["n_events"].to_numpy()):
            d = self.dues.get(k)
            if d is not None and 0 < n <= len(d):
                newest = max(newest, int(d[n - 1]))
        return newest

    def check(self, truth: pd.DataFrame, out: pd.DataFrame) -> dict:
        con = duckdb.connect()
        con.register("sent", truth[["event_id", "ts", "user_id", "event_type", "value", "props"]])
        want = con.execute(
            f"""SELECT (ts // {WINDOW_US}) * {WINDOW_US} AS ws, event_type,
                       count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
                FROM (SELECT DISTINCT * FROM sent) GROUP BY ALL"""
        ).df()
        con.close()
        want["k"] = want["ws"].astype(str) + "|" + want["event_type"]
        last = out.assign(k=_window_keys(out)).drop_duplicates("k", keep="last")
        got = last[["k", "n_events", "sum_value"]]
        res = failures(want[["k", "n_events", "sum_value"]], got, "k", ["n_events", "sum_value"])
        res["attempted"] = len(want)
        planted = int(truth["dup"].sum())
        counted = int(got["n_events"].sum())
        res["dedup_removed_share"] = (len(truth) - counted) / planted if planted else 1.0
        return res


def _window_keys(pdf: pd.DataFrame) -> list[str]:
    ws_us = pdf["window_start"].astype("datetime64[us]").astype("int64").to_numpy()
    return [f"{w}|{t}" for w, t in zip(ws_us, pdf["event_type"].to_numpy())]


class Sink:
    """foreachBatch sink: one Spark action per micro-batch (toPandas), so
    the upstream work never runs twice.  Records the emit time of each batch."""

    def __init__(self):
        self.batches: list[dict] = []

    def __call__(self, df, epoch_id):
        t0 = time.time()
        pdf = df.toPandas()
        t1 = time.time()
        self.batches.append({"epoch": epoch_id, "emit": t1, "sink_s": t1 - t0, "rows": len(pdf), "pdf": pdf})

    def rows(self) -> int:
        return sum(b["rows"] for b in self.batches)


class Progress(StreamingQueryListener):
    """Every progress event of every query, keyed by run id (recentProgress
    keeps only the last 100)."""

    def __init__(self):
        self.by_run: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.by_run.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def rows(self, run_id: str) -> int:
        return sum(p["numInputRows"] for p in self.by_run.get(run_id, []))


def _start(spark, wl, src_dir, ckpt_dir, sink):
    stream = spark.readStream.schema(wl.ddl).parquet(src_dir)
    return (
        wl.build(stream)
        .writeStream.foreachBatch(sink)
        .outputMode(wl.output_mode)
        .option("checkpointLocation", ckpt_dir)
        .start()
    )


def _wait(pred, timeout_s: float, what: str, query=None) -> None:
    end = time.time() + timeout_s
    while not pred():
        if query is not None and query.exception() is not None:
            raise RuntimeError(f"query failed while waiting for {what}: {query.exception()}")
        if time.time() > end:
            raise TimeoutError(f"timed out after {timeout_s:.0f}s waiting for {what}")
        time.sleep(0.005)


def _wait_idle(query, quiet_s: float = 0.15) -> None:
    """Wait until no micro-batch has run for `quiet_s`: a batch still running
    when the backlog lands would add its rest to the drain time.  (Triggers
    that only list the source and find nothing new do not count.)"""
    end, since = time.time() + 60, None
    while time.time() < end:
        if query.status["message"] == "Processing new data":
            since = None
        elif since is None:
            since = time.time()
        elif time.time() - since >= quiet_s:
            return
        time.sleep(0.005)
    raise TimeoutError("the query did not go idle before the drain")


def _drain(query, sink: Sink, progress: Progress, files: list[str], src: str, target_rows: int) -> float:
    """Publish `files` at once to an idle query; returns their rows divided by
    the time until the batch that consumed the last of them was emitted."""
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    run_id = str(query.runId)
    _wait_idle(query)
    t_pub = publish_now(files, src)
    _wait(lambda: progress.rows(run_id) >= target_rows, 150, "the backlog drain", query)
    last = progress.by_run[run_id][-1]["batchId"]
    emit = next(b["emit"] for b in sink.batches if b["epoch"] == last)
    return rows / (emit - t_pub)


def run_stream(ctx, wl) -> dict:
    """Setup (stage, query start, warm-up), steady open-loop phase, backlog
    drain, then checks -- in that order, checks outside every timed region."""
    spark, tr, seconds, work = ctx["spark"], ctx["tracer"], ctx["seconds"], ctx["work"]
    tick = TICK_S[wl.name]
    per_file = int(RATE[wl.name] * tick)
    n_warm, n_meas = int(WARM_S[wl.name] / tick), int(seconds / tick)
    n_sched = n_warm + n_meas
    (n_back, back_per_file), n_burst = BACKLOG[wl.name], BURST_FILES[wl.name]
    progress = Progress()
    spark.streams.addListener(progress)

    t = time.time()
    with tr.span("gen.stage"):
        steady = wl.stage(ctx["seed"], os.path.join(work, "stage"), n_sched, per_file, 0)
        backlog = wl.stage(ctx["seed"], os.path.join(work, "stage_backlog"), n_burst + DRAINS * n_back, back_per_file, n_sched)
    stage_s = time.time() - t
    truth = pd.concat([steady.truth, backlog.truth.assign(file=backlog.truth["file"] + n_sched)], ignore_index=True)
    dues_us = np.asarray([gen.BASE_US + round(d * 1e6) for d in steady.due_s + backlog.due_s], dtype=np.int64)
    if isinstance(wl, Events):
        wl.index(truth, lambda files: dues_us[files])

    # The query starts on a source dir that already holds file 0.
    src = os.path.join(work, "src")
    os.makedirs(src)
    os.rename(steady.files[0], os.path.join(src, os.path.basename(steady.files[0])))
    sink = Sink()
    t = time.time()
    with tr.span("pipeline.query_start"):
        query = _start(spark, wl, src, os.path.join(work, "ckpt"), sink)
        _wait(lambda: sink.batches, 120, "the first micro-batch", query)
    start_s = time.time() - t
    run_id = str(query.runId)

    # Warm-up then the measured phase: one open-loop schedule.
    t_warm = time.time()
    t0 = t_warm - steady.due_s[1] + 0.05
    pub = Publisher(steady.files[1:], steady.due_s[1:], src, t0)
    pub.start()
    meas_start = t0 + n_warm * tick
    _wait(lambda: time.time() >= meas_start, 60, "the measured phase")
    warm_s = time.time() - t_warm
    first = len(sink.batches)
    # the measured phase: the rest of the schedule, then the backlog drain
    setup_s = time.time() - ctx["t_proc"]
    ctx["machine"].start()
    pub.join()
    steady_rows = sum(steady.rows)
    _wait(lambda: time.time() >= t0 + steady.due_s[-1] + 0.5, 60, "the end of the steady phase")
    backlog_end = steady_rows - progress.rows(run_id)
    _wait(lambda: progress.rows(run_id) >= steady_rows, 60, "the steady phase to drain", query)
    last = len(sink.batches)
    batches_meas = {b["epoch"] for b in sink.batches[first:last]}

    done = steady_rows + sum(backlog.rows[:n_burst])
    if n_burst:
        with tr.span("pipeline.burst"):
            _drain(query, sink, progress, backlog.files[:n_burst], src, done)
    rates = []
    for k in range(DRAINS):
        part = slice(n_burst + k * n_back, n_burst + (k + 1) * n_back)
        done += sum(backlog.rows[part])
        with tr.span("pipeline.drain"):
            rates.append(_drain(query, sink, progress, backlog.files[part], src, done))
    machine = ctx["machine"].stop()
    _wait_idle(query)  # stopping mid-batch cancels its job and logs the failure
    query.stop()
    spark.streams.removeListener(progress)

    samples = latency_samples(wl, sink.batches[first:last], t0)
    check = wl.check(truth, pd.concat([b["pdf"] for b in sink.batches], ignore_index=True))
    res = {
        "setup_s": setup_s,
        "samples": samples,
        # a median over the measured phase's micro-batches (see metrics.tail)
        "latency_p50_ms": median(samples),
        "drain_rows_per_s": median(rates),
        "attempted": check["attempted"],
        "failed": check["failed"],
        "check": check,
        "machine": machine,
        "layers": {
            "setup.stage_s": stage_s,
            "setup.query_start_s": start_s,
            "setup.warm_s": warm_s,
            "gen.late_ms_max": pub.late_ms_max(),
            "backlog.rows_end": backlog_end,
            "sink.ms_per_batch": median([b["sink_s"] * 1e3 for b in sink.batches[first:last]]),
            "dedup.removed_share": check.get("dedup_removed_share", 0.0),
        },
    }
    if tr.enabled:
        prog = [p for p in progress.by_run[run_id] if p["batchId"] in batches_meas]
        res["layers"].update(_fold_progress(tr, prog, sink, sum(steady.rows[1:]) / max(1, len(steady.rows) - 1)))
        if isinstance(wl, Events):
            probe = batch_probe(ctx)
            res["layers"].update(probe["layers"])
            res["attempted"] += probe["attempted"]
            res["failed"] += probe["failed"]
            res["check"]["queries"] = {"failed": probe["failed"], "why": probe["why"]}
        res["layers"].update(_stream_probes(ctx, wl, n_sched + n_burst + DRAINS * n_back, n_back, per_file, back_per_file))
    return res


def latency_samples(wl, batches: list[dict], t0: float) -> list[float]:
    """One sample per micro-batch, however many records it carries: its emit
    time minus the due time of the newest record its output covers (ms)."""
    out = []
    for b in batches:
        due_us = wl.newest_due_us(b["pdf"]) if b["rows"] else 0
        if due_us:
            out.append((b["emit"] - (t0 + (due_us - gen.BASE_US) / 1e6)) * 1e3)
    return out


def _fold_progress(tr: Tracer, prog: list[dict], sink: Sink, rows_per_file: float) -> dict:
    """Turn per-batch progress into spans (trigger > latestOffset, walCommit,
    getBatch, queryPlanning, addBatch > sink, commitOffsets) and layer metrics."""
    sink_by_epoch = {b["epoch"]: b for b in sink.batches}
    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
    for p in prog:
        d = p["durationMs"]
        start = pd.Timestamp(p["timestamp"]).timestamp()
        trig = tr.add("batch.trigger", start, start + d.get("triggerExecution", 0) / 1e3, batch=p["batchId"])
        t = start
        for name in order:
            ms = d.get(name, 0)
            sid = tr.add(f"batch.{name}", t, t + ms / 1e3, trig)
            if name == "addBatch" and p["batchId"] in sink_by_epoch:
                b = sink_by_epoch[p["batchId"]]
                tr.add("sink", t + ms / 1e3 - b["sink_s"], t + ms / 1e3, sid)
            t += ms / 1e3
    selfs = tr.self_times()
    dur = lambda *keys: [sum(p["durationMs"].get(k, 0) for k in keys) for p in prog]
    ops = [p.get("stateOperators", []) for p in prog]
    last_ops = ops[-1] if ops else []
    return {
        "source.list_ms_per_batch": median(dur("latestOffset", "getBatch")),
        "source.files_per_batch": median([p["numInputRows"] / rows_per_file for p in prog]),
        "batch.count": len(prog),
        "batch.rows_p50": median([p["numInputRows"] for p in prog]),
        "batch.trigger_ms_p50": median(dur("triggerExecution")),
        "batch.add_batch_ms_p50": median(dur("addBatch")),
        "batch.commit_ms_p50": median(dur("walCommit", "commitOffsets")),
        "batch.self_ms_p50": median([s * 1e3 for s in selfs.get("batch.trigger", [])]),
        "batch.add_batch_self_ms_p50": median([s * 1e3 for s in selfs.get("batch.addBatch", [])]),
        "state.rows_total": sum(o.get("numRowsTotal", 0) for o in last_ops),
        "state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_ops),
        "state.commit_ms_p50": median([sum(o.get("commitTimeMs", 0) for o in b) for b in ops]) if any(ops) else 0.0,
        "state.instances": sum(o.get("numStateStoreInstances", 0) for o in last_ops),
        "state.rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b),
    }


def _stream_probes(ctx, wl, first_file, n_back, per_file, back_per_file) -> dict:
    """Traced run only: layer probes over a fresh backlog-sized input."""
    spark, tr, work = ctx["spark"], ctx["tracer"], ctx["work"]
    copy = wl.stage(ctx["seed"], os.path.join(work, "probe"), n_back, back_per_file, first_file)
    rows = sum(copy.rows)
    out = {}
    with tr.span("source.batch_drain"):
        t = time.time()
        spark.read.schema(wl.ddl).parquet(*copy.files).write.format("noop").mode("overwrite").save()
        out["source.drain_rows_per_s"] = rows / (time.time() - t)
    if isinstance(wl, Ingest):
        from sparkstreaming_quickstart_spark.streaming.avro_wire import decode_confluent_avro, wire_decode

        with tr.span("avro_wire.batch_drain"):
            t = time.time()
            df = spark.read.schema(wl.ddl).parquet(*copy.files)
            decode_confluent_avro(df, READER_SCHEMA, gen.SCHEMA_MAP).write.format("noop").mode("overwrite").save()
            out["avro_wire.decode_drain_rows_per_s"] = rows / (time.time() - t)
        values = pq.read_table(copy.files[0], columns=["value"]).column("value").to_pylist()
        values = (values * (20_000 // len(values) + 1))[:20_000]
        with tr.span("avro_wire.wire_decode"):
            t = time.perf_counter()
            for v in values:
                wire_decode(v, gen.SCHEMA_MAP)
            out["avro_wire.wire_decode_us"] = (time.perf_counter() - t) / len(values) * 1e6
    # the same job on one core: a fresh local[1] session drains the backlog
    from sparkstreaming_quickstart_spark.session import get_spark

    spark.stop()
    with tr.span("session.single_core"):
        one = get_spark("perfbench-single-core", master="local[1]")
    ctx["spark"] = one
    progress = Progress()
    one.streams.addListener(progress)
    src = os.path.join(work, "src_single")
    os.makedirs(src)
    first = wl.stage(ctx["seed"], os.path.join(work, "single_first"), 1, per_file, 0)
    os.rename(first.files[0], os.path.join(src, os.path.basename(first.files[0])))
    again = wl.stage(ctx["seed"], os.path.join(work, "single"), n_back // 4, back_per_file, first_file)
    sink = Sink()
    query = _start(one, wl, src, os.path.join(work, "ckpt_single"), sink)
    _wait(lambda: progress.rows(str(query.runId)) >= first.rows[0], 120, "the single-core first batch", query)
    with tr.span("pipeline.single_core_drain"):
        out["single_core.drain_rows_per_s"] = _drain(query, sink, progress, again.files, src, first.rows[0] + sum(again.rows))
    _wait_idle(query)
    query.stop()
    return out


# ---------------------------------------------------------------------------
# Batch query mix
# ---------------------------------------------------------------------------


def batch_probe(ctx) -> dict:
    """Traced stateful run only: the `queries` layer.  Tables generated from
    the seed, one pass checking every query of the mix against its DuckDB
    oracle (which also warms it), then one timed pass that builds and drains
    each query to the noop sink."""
    from sparkstreaming_quickstart_spark.oracle import compare
    from sparkstreaming_quickstart_spark.queries import all_queries

    spark, tr, work = ctx["spark"], ctx["tracer"], ctx["work"]
    reg = all_queries()
    with tr.span("gen.tables"):
        sf_dir = os.path.join(work, "tables")
        gen.batch_tables(ctx["seed"], sf_dir)
    why = {}
    for name in MIX:
        with tr.span("queries.check", query=name):
            r = compare(spark, sf_dir, reg[name].fn, reg[name].sql)
        if not r["ok"]:
            why[name] = r.get("why")
    out, builds, total = {}, 0.0, 0.0
    for name in MIX:
        t0 = time.time()
        with tr.span(f"queries.{name}.build"):
            df = reg[name].fn(spark, sf_dir)
        t1 = time.time()
        with tr.span(f"queries.{name}.drain"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        out[f"queries.{name}.build_s"] = t1 - t0
        out[f"queries.{name}.drain_s"] = t2 - t1
        builds, total = builds + t1 - t0, total + t2 - t0
    out.update({"queries.mix_s": total, "queries.build_share": builds / total})
    return {"layers": out, "attempted": len(MIX), "failed": len(why), "why": why}
