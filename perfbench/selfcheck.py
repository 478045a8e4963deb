"""Self-checks for the benchmark's own logic (no Spark session needed).

    python3 perfbench/selfcheck.py

* the percentile rule counts micro-batches and refuses a percentile without
  ten samples beyond it;
* one dropped or duplicated record makes the failure count positive;
* a fixed seed regenerates byte-identical inputs, and another seed does not.
"""

import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pandas as pd  # noqa: E402

import gen  # noqa: E402
import workloads  # noqa: E402
from harness import TooFewSamples, failures, percentile  # noqa: E402


def check_percentile_rule() -> None:
    assert percentile(list(range(100)), 90) == 89
    for n, q in ((99, 90), (19, 50), (10, 1)):
        try:
            percentile(list(range(n)), q)
        except TooFewSamples:
            continue
        raise AssertionError(f"p{q} of {n} samples should be refused")
    # a micro-batch of many records is one sample
    ts = pd.to_datetime([gen.BASE_US * 1000 + 10**9] * 500, utc=True)
    batches = [{"rows": 500, "emit": 11.0 + i, "pdf": pd.DataFrame({"timestamp": ts})} for i in range(3)]
    got = workloads.latency_samples(workloads.Ingest(), batches, t0=10.0)
    assert [round(x) for x in got] == [0, 1000, 2000], got


def check_failures() -> None:
    truth = pd.DataFrame({"offset": range(1000), "v": [f"r{i}" for i in range(1000)]})
    assert failures(truth, truth, "offset", ["v"])["failed"] == 0
    dropped = truth.drop(index=17)
    assert failures(truth, dropped, "offset", ["v"]) ["missing"] == 1
    duplicated = pd.concat([truth, truth.iloc[[3]]])
    assert failures(truth, duplicated, "offset", ["v"])["duplicated"] == 1
    wrong = truth.copy()
    wrong.loc[5, "v"] = "x"
    assert failures(truth, wrong, "offset", ["v"])["wrong"] == 1
    nulls = pd.DataFrame({"offset": [0, 1], "v": pd.array([None, 2], dtype="Int64")})
    assert failures(nulls, nulls.copy(), "offset", ["v"])["failed"] == 0


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(os.path.basename(p).encode() + fh.read())
    return h.hexdigest()


def _inputs(seed: int, out: str) -> str:
    a = gen.kafka_avro_files(seed, os.path.join(out, "kafka"), 3, 50, 0.2)
    b = gen.event_files(seed, os.path.join(out, "events"), 5, 50, 0.1)
    gen.batch_tables(seed, os.path.join(out, "tables"))
    tables = [os.path.join(out, "tables", f) for f in os.listdir(os.path.join(out, "tables"))]
    return _digest(a.files + b.files + tables)


def check_seeded_inputs(scratch: str) -> None:
    one = _inputs(7, os.path.join(scratch, "a"))
    assert one == _inputs(7, os.path.join(scratch, "b")), "same seed, different bytes"
    assert one != _inputs(8, os.path.join(scratch, "c")), "different seeds, same bytes"


def main() -> int:
    scratch = os.path.join(ROOT, ".bench_work", f"selfcheck-{os.getpid()}")
    try:
        check_percentile_rule()
        check_failures()
        check_seeded_inputs(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selfcheck ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
