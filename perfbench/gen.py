"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the same
rows and the same parquet bytes.  Time columns hold *schedule* times (a fixed
base instant plus the due offset of the file that carries the row), never the
wall clock, so a file's bytes do not depend on when the benchmark ran.

Three input shapes:

* Kafka-shaped rows (`key`, `value`, `topic`, `partition`, `offset`,
  `timestamp`) whose `value` is Confluent-wire Avro `testschema`, written
  under two schema ids (id 2 adds a nullable `email` field).
* Events-shaped rows (`event_id`, `ts`, `user_id`, `event_type`, `value`,
  `props`) with Zipf-skewed users, bounded out-of-orderness and planted exact
  duplicates a few files behind their original.
* The batch tables the query registry reads (TPC-H-ish star schema plus
  `events`, `documents`, `embeddings`), with the fixtures' column names and
  types.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sparkstreaming_quickstart_spark.streaming.avro_wire import wire_encode

BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the schedule's origin

TESTSCHEMA_V1 = {
    "type": "record",
    "name": "testschema",
    "fields": [
        {"name": "name", "type": "string"},
        {"name": "age", "type": ["int", "null"]},
    ],
}
TESTSCHEMA_V2 = {
    "type": "record",
    "name": "testschema",
    "fields": TESTSCHEMA_V1["fields"] + [{"name": "email", "type": ["null", "string"]}],
}
SCHEMA_MAP = {1: TESTSCHEMA_V1, 2: TESTSCHEMA_V2}

# events: event-time disorder (below the watermark delay, so nothing is late),
# share of originals re-sent as exact copies, how many files later at most,
# and the number of Zipf-skewed users
OOO_US = 1_000_000
DUP_SHARE = 0.05
DUP_LAG_FILES = 2
N_USERS = 10_000

NAMES = ["Gilberto", "ada", "grace", "alan", "barbara", "edsger", "donald", "frances", "ken", "margaret"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass
class Staged:
    """Pre-staged input files for one publish schedule.

    `files[i]` is due `due_s[i]` seconds after the schedule starts; `truth` is
    the generator's record of what each file carries."""

    files: list[str]
    due_s: list[float]
    rows: list[int]
    truth: pd.DataFrame


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def kafka_avro_files(
    seed: int, out_dir: str, n_files: int, per_file: int, tick_s: float, first_offset: int = 0, first_due_s: float = 0.0
) -> Staged:
    """Kafka-shaped Confluent-wire Avro records, `per_file` per file.

    About 10% are written under schema id 2 (added nullable `email`) and 5%
    carry a null `age`.  `truth` has one row per record: offset, key, name,
    age, file index."""
    rng = np.random.default_rng([seed, first_offset])
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * per_file
    offsets = np.arange(first_offset, first_offset + n, dtype=np.int64)
    keys = [f"user-{k}" for k in rng.integers(0, 10_000, size=n)]
    names = [f"{NAMES[a]}-{b}" for a, b in zip(rng.integers(0, len(NAMES), size=n), rng.integers(0, 1000, size=n))]
    ages = rng.integers(18, 91, size=n)
    age_null = rng.random(n) < 0.05
    v2 = rng.random(n) < 0.10
    values = []
    for i in range(n):
        rec = {"name": names[i], "age": None if age_null[i] else int(ages[i])}
        if v2[i]:
            rec["email"] = f"{names[i]}@example.org"
            values.append(wire_encode(2, rec, TESTSCHEMA_V2))
        else:
            values.append(wire_encode(1, rec, TESTSCHEMA_V1))
    files, dues, rows = [], [], []
    for f in range(n_files):
        lo, hi = f * per_file, (f + 1) * per_file
        due = first_due_s + f * tick_s
        ts = np.full(per_file, BASE_US + int(round(due * 1e6)), dtype=np.int64)
        table = pa.table(
            [
                pa.array([k.encode() for k in keys[lo:hi]], pa.binary()),
                pa.array(values[lo:hi], pa.binary()),
                pa.array(["testtopic"] * per_file, pa.string()),
                pa.array(np.zeros(per_file, dtype=np.int32)),
                pa.array(offsets[lo:hi]),
                pa.array(ts, pa.timestamp("us", tz="UTC")),
            ],
            schema=KAFKA_SCHEMA,
        )
        path = os.path.join(out_dir, f"part-{first_offset + lo:012d}.parquet")
        _write(table, path)
        files.append(path)
        dues.append(due)
        rows.append(per_file)
    truth = pd.DataFrame(
        {
            "offset": offsets,
            "key": keys,
            "name": names,
            "age": pd.array([None if z else int(a) for a, z in zip(ages, age_null)], dtype="Int64"),
            "file": np.repeat(np.arange(n_files), per_file),
        }
    )
    return Staged(files, dues, rows, truth)


def event_files(
    seed: int,
    out_dir: str,
    n_files: int,
    per_file: int,
    tick_s: float,
    first_id: int = 0,
    first_due_s: float = 0.0,
) -> Staged:
    """Events-shaped rows, `per_file` originals per file plus planted copies.

    Event time is the schedule time minus up to `OOO_US` of out-of-orderness.
    About `DUP_SHARE` of the originals are re-sent as exact copies 1 to
    `DUP_LAG_FILES` files later (never past the last file).  `truth` has one
    row per *sent* row, copies included, with its file index and a `dup`
    flag."""
    rng = np.random.default_rng([seed, first_id, 7])
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * per_file
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    file_of = np.repeat(np.arange(n_files), per_file)
    due_us = BASE_US + np.round((first_due_s + file_of * tick_s) * 1e6).astype(np.int64)
    orig = pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": due_us - rng.integers(0, OOO_US + 1, size=n),
            "user_id": rng.choice(N_USERS, p=p / p.sum(), size=n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)],
            "value": np.round(rng.gamma(2.0, 20.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
            "file": file_of,
            "dup": False,
        }
    )
    pick = np.flatnonzero(rng.random(n) < DUP_SHARE)
    copies = orig.iloc[pick].copy()
    copies["file"] = np.minimum(copies["file"].to_numpy() + rng.integers(1, DUP_LAG_FILES + 1, size=len(pick)), n_files - 1)
    copies["dup"] = True
    # a copy that would land in its original's file is moved one file later
    # when possible and otherwise dropped, so every copy trails its original
    same = copies["file"].to_numpy() == orig["file"].to_numpy()[pick]
    copies = copies[~same]
    sent = pd.concat([orig, copies], ignore_index=True).sort_values(["file", "dup", "event_id"], kind="stable")
    files, dues, rows = [], [], []
    for f, part in sent.groupby("file", sort=True):
        table = pa.table(
            [
                pa.array(part["event_id"].to_numpy()),
                pa.array(part["ts"].to_numpy(), pa.timestamp("us", tz="UTC")),
                pa.array(part["user_id"].to_numpy()),
                pa.array(part["event_type"].to_numpy(), pa.string()),
                pa.array(part["value"].to_numpy()),
                pa.array(part["props"].to_numpy(), pa.string()),
            ],
            schema=EVENTS_SCHEMA,
        )
        path = os.path.join(out_dir, f"part-{first_id:012d}-{int(f):06d}.parquet")
        _write(table, path)
        files.append(path)
        dues.append(first_due_s + int(f) * tick_s)
        rows.append(len(part))
    return Staged(files, dues, rows, sent.reset_index(drop=True))


# ---------------------------------------------------------------------------
# Batch tables for the query registry
# ---------------------------------------------------------------------------

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value", "data", "small",
    "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "the", "row", "agg", "key", "query", "a", "scan", "batch",
]


def batch_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the registry's tables into `out_dir`; returns rows per table.

    Row counts are those of the sf0.01 fixtures (lineitem 60k).  Keys are dense, foreign keys uniform; documents draw 10-100 tokens from a
    Zipf vocabulary headed by the fixtures' words, with planted near and
    exact copies; embeddings are unit float32[64] around ten centres with
    about 1% planted near-identical pairs."""
    rng = np.random.default_rng([seed, 11])
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def write(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows

    def ts_us(lo: str, hi: str, n: int, step_s: int = 86400) -> pa.Array:
        a = np.datetime64(lo, "s").astype(np.int64) // step_s
        b = np.datetime64(hi, "s").astype(np.int64) // step_s
        return pa.array(rng.integers(a, b + 1, size=n) * step_s * 1_000_000, pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=n), 2)

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_li, n_ev = 15000, 60000, 10000
    n_doc, n_vec = 500, 500
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])[
            rng.integers(0, 5, size=n_cust)],
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            np.array(["small", "red", "blue", "large", "green"])[rng.integers(0, 5, size=n_part)],
            np.array(["ring", "widget", "bolt", "gear", "valve"])[rng.integers(0, 5, size=n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
        "p_type": np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"])[
            rng.integers(0, 6, size=n_part)],
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": ts_us("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, size=n_ord)],
    })
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, size=n_li),
        "l_partkey": rng.integers(0, n_part, size=n_li),
        "l_suppkey": rng.integers(0, n_supp, size=n_li),
        "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_li)],
        "l_shipdate": ts_us("1995-01-02", "2001-11-04", n_li),
    })
    # events: microsecond-unique timestamps over 30 days, sorted by event_id
    slot = 30 * 86400 * 1_000_000 // n_ev
    ev_ts = np.arange(n_ev, dtype=np.int64) * slot + rng.integers(0, slot, size=n_ev) + BASE_US
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, size=n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n_ev)],
        "value": np.round(rng.gamma(2.0, 20.0, size=n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    })
    vocab = np.array(VOCAB + [f"w{i:05d}" for i in range(len(VOCAB), 2000)])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    ntoks = rng.integers(10, 101, size=n_doc)
    flat = vocab[rng.choice(len(vocab), p=p / p.sum(), size=int(ntoks.sum()))]
    bounds = np.concatenate([[0], np.cumsum(ntoks)])
    texts = []
    for i in range(n_doc):
        toks = list(flat[bounds[i] : bounds[i + 1]])
        if rng.random() < 0.05:
            toks[int(rng.integers(0, len(toks)))] = "dup"
        texts.append(toks)
    for i in range(1, n_doc):
        r = rng.random()
        if r < 0.01:
            texts[i] = list(texts[int(rng.integers(0, i))])
        elif r < 0.05:
            texts[i] = list(texts[int(rng.integers(0, i))])
            texts[i][int(rng.integers(0, len(texts[i])))] = "dup"
    texts = [" ".join(t) for t in texts]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "zh", "fr", "es"])[
            rng.choice(5, p=[0.41, 0.14, 0.15, 0.15, 0.15], size=n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, size=n_vec)
    x = centers[label] * 0.65 + rng.normal(size=(n_vec, 64)) / 8.0 * 0.9
    dup = rng.random(n_vec) < 0.01
    src = rng.integers(0, n_vec, size=n_vec)
    x[dup] = x[src[dup]] + rng.normal(0.0, 0.01, size=(int(dup.sum()), 64))
    label[dup] = label[src[dup]]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return counts
