"""Turn a workload result into the benchmark's output object.

Metric names and units come from BENCHMARK.json at the checkout root, so the
file the driver reads and the numbers this prints cannot drift apart.
"""

from __future__ import annotations

import json
import os

from harness import percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


ALL = ("ingest_avro", "stateful_events")
# Per-layer metric name prefix -> (end-to-end metrics it should move, the
# workloads it applies to).  The longest matching prefix wins; entries with
# no end-to-end metric are validity checks.
MOVES = {
    "session.": (["setup_s"], ALL),
    "setup.": (["setup_s"], ALL),
    "source.": (["latency_p50_ms"], ALL),
    "avro_wire.": (["drain_rows_per_s", "latency_p50_ms"], ("ingest_avro",)),
    "batch.": (["latency_p50_ms"], ALL),
    "state.": (["drain_rows_per_s", "latency_p50_ms"], ("stateful_events",)),
    "dedup.": (["drain_rows_per_s", "latency_p50_ms"], ("stateful_events",)),
    # a probe in the traced stateful run: no workload times the query mix
    "queries.": ([], ("stateful_events",)),
    "single_core.": (["drain_rows_per_s"], ALL),
    "sink.": ([], ALL),
    "gen.": ([], ALL),
    "backlog.": ([], ALL),
    "trace.": ([], ALL),
    "check.": ([], ALL),
    "machine.": ([], ALL),
}


def moves(workload: str) -> dict[str, list[str]]:
    """Per-layer prefix -> end-to-end metrics it should move on `workload`."""
    return {k: e for k, (e, wls) in MOVES.items() if workload in wls}


def applies(name: str, workload: str) -> bool:
    prefix = max((k for k in MOVES if name.startswith(k)), key=len)
    return workload in MOVES[prefix][1]


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def end_to_end(res: dict) -> dict[str, float]:
    return {
        "setup_s": res["setup_s"],
        "latency_p50_ms": res["latency_p50_ms"],
        "drain_rows_per_s": res["drain_rows_per_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }


def report(workload: str, traced: bool, res: dict) -> dict:
    s = spec()
    if traced:
        values = {**machine_layers(res["machine"]), **res["layers"]}
        values["check.failed_share"] = res["failed"] / res["attempted"]
        missing = [m["name"] for m in s["per_layer"] if m["name"] not in values and applies(m["name"], workload)]
        if missing:
            raise KeyError(f"{workload}: per-layer metrics not measured: {missing}")
        # a layer the workload never calls reports 0: no work was done there
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in s["per_layer"]}
    else:
        values = end_to_end(res)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in s["end_to_end"]}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def machine_layers(m: dict) -> dict:
    return {f"machine.{k}": v for k, v in m.items()}


def tail(samples: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(samples)
    if n <= 10:
        return {"samples": n}
    q = (100 * (n - 10)) // n
    return {"samples": n, "pct": q, "ms": percentile(samples, q)}
