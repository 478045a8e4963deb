"""Measurement plumbing shared by the workloads.

* `percentile`: the reporting rule -- nearest-rank percentile over whole
  samples (micro-batches or queries, never records), refused unless at least
  ten samples lie beyond it.
* `failures`: missing, duplicated and wrong operations against the
  generator's truth.
* `Publisher`: the open-loop generator -- one thread that moves pre-staged
  files into the source directory by atomic rename on a fixed schedule and
  records how late each publish ran.
* `RssSampler`: peak summed RSS of this process's descendants -- the JVM and
  its Python workers, not the benchmark's own interpreter.
* `Tracer`: in-memory spans (name, start, end, parent, run id) with self time.
* `Machine`: nproc, RAM, hypervisor steal, foreign CPU and peak RSS over the
  measured phase.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import uuid
from collections.abc import Sequence

import numpy as np
import pandas as pd

from bench import _foreign_jiffies, _steal_jiffies


class TooFewSamples(ValueError):
    pass


def percentile(samples: Sequence[float], q: float) -> float:
    """Nearest-rank q-th percentile; refuses without 10 samples beyond it."""
    n = len(samples)
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < 10:
        raise TooFewSamples(f"p{q:g} needs 10 samples beyond it; {n} samples leave {max(0, n - rank)}")
    return float(sorted(samples)[rank - 1])


def median(xs: Sequence[float]) -> float:
    return float(np.median(np.asarray(xs, dtype=float))) if len(xs) else 0.0


def failures(truth: pd.DataFrame, got: pd.DataFrame, key: str, cols: list[str]) -> dict[str, int]:
    """Count truth rows missing from `got`, keys seen more than once, and
    rows whose `cols` differ from the truth; extra keys count as wrong."""
    seen = got[key].value_counts()
    dup = int((seen - 1).clip(lower=0).sum())
    first = got.drop_duplicates(key).set_index(key)
    t = truth.set_index(key)
    missing = int((~t.index.isin(first.index)).sum())
    extra = int((~first.index.isin(t.index)).sum())
    both = t.index.intersection(first.index)
    wrong = int((_cells(t.loc[both, cols]) != _cells(first.loc[both, cols])).any(axis=1).sum()) + extra
    return {"missing": missing, "duplicated": dup, "wrong": wrong, "failed": missing + dup + wrong}


def _cells(df: pd.DataFrame) -> pd.DataFrame:
    """Cells as comparable strings, every null spelled the same way."""
    return df.astype(object).where(df.notna(), "<null>").astype(str)


class Publisher(threading.Thread):
    """Publish `files` into `dest` by atomic rename, file i at t0 + due_s[i].

    Open loop: the schedule never waits for the system under test.  The
    file's mtime is set to its publish time first, since the file source
    orders new files by modification time."""

    def __init__(self, files: list[str], due_s: list[float], dest: str, t0: float):
        super().__init__(daemon=True)
        self.files, self.due_s, self.dest, self.t0 = files, due_s, dest, t0
        self.published: list[float] = []  # wall time of each publish

    def run(self) -> None:
        for path, due in zip(self.files, self.due_s):
            wait = self.t0 + due - time.time()
            if wait > 0:
                time.sleep(wait)
            now = time.time()
            os.utime(path, (now, now))
            os.rename(path, os.path.join(self.dest, os.path.basename(path)))
            self.published.append(now)

    def late_ms_max(self) -> float:
        return max(((p - self.t0 - d) * 1e3 for p, d in zip(self.published, self.due_s)), default=0.0)


def publish_now(files: list[str], dest: str) -> float:
    """Publish a whole backlog at once; returns the wall time of the first rename."""
    t = time.time()
    for path in files:
        os.utime(path, (t, t))
        os.rename(path, os.path.join(dest, os.path.basename(path)))
    return t


MIN_AGE_S = 0.5


def _descendants() -> list[int]:
    """Pids below this process that have lived at least `MIN_AGE_S`.

    The age bar leaves out the JVM's short-lived shell helpers: a child that
    has not yet exec'd shares the JVM's pages, and counting it would count
    the JVM twice."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        now = float(fh.read().split()[0])
    parent: dict[int, int] = {}
    old: set[int] = set()
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    raw = fh.read()
                fields = raw[raw.rindex(")") + 2 :].split()
            except (OSError, ValueError):
                continue
            parent[int(entry)] = int(fields[1])
            if now - int(fields[19]) / tick >= MIN_AGE_S:
                old.add(int(entry))
    children: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        children.setdefault(pp, []).append(pid)
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        if pid in old:
            out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def descendants_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples `descendants_rss_bytes` from start() to stop(); returns the peak."""

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s, self.peak = period_s, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, descendants_rss_bytes())
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return max(self.peak, descendants_rss_bytes())


class Tracer:
    """In-memory spans; `enabled=False` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        t = time.perf_counter()
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, "run": self.run_id, **attrs}
        )
        self.overhead_s += time.perf_counter() - t
        return len(self.spans) - 1

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self):
                if tracer.enabled:
                    t = time.time()
                    self.id = tracer.add(name, t, t, tracer._stack[-1] if tracer._stack else None, **attrs)
                    tracer._stack.append(self.id)
                return self

            def __exit__(self, *exc):
                if tracer.enabled:
                    t = time.perf_counter()
                    tracer._stack.pop()
                    tracer.spans[self.id]["end"] = time.time()
                    tracer.overhead_s += time.perf_counter() - t
                return False

        return _Span()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the union of its
        children's intervals (clipped to the parent)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    covered += 0.0 if cur_e is None else cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class Machine:
    """nproc, RAM, steal/foreign CPU and peak RSS over the phase between
    start() and stop()."""

    def __init__(self):
        self.nproc = os.cpu_count() or 1
        self.ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")

    def start(self) -> None:
        self.rss = RssSampler()
        self.rss.start()
        self.t0, self.s0, self.f0 = time.time(), _steal_jiffies(), _foreign_jiffies()

    def stop(self) -> dict:
        wall = time.time() - self.t0
        peak = self.rss.stop()
        s1, f1 = _steal_jiffies(), _foreign_jiffies()
        budget = wall * self.nproc
        steal = (s1 - self.s0) / 100.0 / budget if None not in (self.s0, s1) else 0.0
        foreign = max(0, f1 - self.f0) / 100.0 / budget if None not in (self.f0, f1) else 0.0
        return {
            "nproc": self.nproc,
            "ram_gb": round(self.ram_bytes / 2**30, 1),
            "steal_share": steal,
            "foreign_share": foreign,
            # bench.py's 2% bar for steal; foreign CPU gets 5%, because an idle
            # container's own tooling already shows about 2%
            "contended": int(steal > 0.02 or foreign > 0.05),
            "peak_rss_mb": peak / 2**20,
        }
