"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  Builds nothing: the program is the
`sparkstreaming_quickstart_spark` package of that checkout.  All scratch
files (inputs, checkpoints, Spark local dirs, the JVM's temp dir) live under
`.bench_work/` in the checkout and are removed at exit.

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.  With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics, and the spans are
written to .bench_work/../bench_trace.jsonl.  Earlier stdout lines carry run
details (machine, check results, sample counts).
"""

import time

T_PROC = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_avro", "stateful_events")
DEADLINE_S = 170  # a run that is not done by then fails instead of hanging


def _fit_environment(work: str) -> None:
    """Size Spark to this machine and keep every scratch write in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(2, int(ram_gb // 6)))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # The heap is committed and touched up front, and glibc keeps two
            # malloc arenas: left to grow on demand, the JVM's peak RSS
            # followed GC timing and thread scheduling and varied by a third
            # between runs.
            "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Xms{heap_gb}g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
            "MALLOC_ARENA_MAX": "2",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )


def _stop_jvm(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF), and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sparkstreaming_quickstart_spark", "__init__.py")):
        print(f"no program sources under {ROOT}: run from a source checkout", file=sys.stderr)
        return 2

    def _expired(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, _expired)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _fit_environment(work)
    sys.path[:0] = [ROOT, HERE]
    import harness
    import metrics

    spark = None
    try:
        from sparkstreaming_quickstart_spark.session import get_spark

        import workloads

        tracer = harness.Tracer(args.trace == 1)
        t = time.time()
        with tracer.span("session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}")
        t1 = time.time()
        with tracer.span("session.first_job"):
            spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.time()
        ctx = {
            "spark": spark,
            "tracer": tracer,
            "seed": args.seed,
            "seconds": args.seconds,
            "work": work,
            "machine": harness.Machine(),
            "t_proc": T_PROC,
        }
        res = workloads.run_stream(ctx, workloads.Ingest() if args.workload == "ingest_avro" else workloads.Events())
        spark = ctx["spark"]
        res["layers"]["session.get_spark_s"] = t1 - t
        res["layers"]["session.first_job_s"] = t2 - t1
        if tracer.enabled:
            res["layers"]["trace.overhead_share"] = tracer.overhead_s / (time.time() - T_PROC)
            tracer.write(os.path.join(ROOT, "bench_trace.jsonl"))
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(os.path.dirname(work) if len(os.listdir(os.path.dirname(work))) == 1 else work, ignore_errors=True)
    res["peak_rss_mb"] = res["machine"].pop("peak_rss_mb")
    out = metrics.report(args.workload, args.trace == 1, res)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "machine": res["machine"],
        "check": res["check"],
        "latency_tail": metrics.tail(res["samples"]),
        "latency_samples_ms": [round(s, 1) for s in res["samples"]],
    }
    if args.trace:
        info["moves"] = metrics.moves(args.workload)
    print(json.dumps(info, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
