"""Semantic pins for the wave-4/5/6 operators: the properties that make each
design correct at scale, exercised beyond the oracle value-match.

- dropDuplicatesWithinWatermark's TTL actually evicts-and-re-admits (the
  behavior that bounds its state, which the single-drain oracle can't see).
- The PQ quantizer keeps useful recall against exact search.
- The JL sign-matrix sketch separates near pairs from far pairs.
- The CMS estimate dominates the exact count row-by-row.
- The foreachBatch upsert ledger makes batch retries no-ops.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F


def test_dedup_within_watermark_ttl_reemits(spark, tmp_path):
    """Key K at t0, a duplicate at t0+5h (dropped, and it EXTENDS K's state
    expiry to t0+7h -- duplicates refresh the TTL, probed), an unrelated key
    at t0+10h that advances the watermark past that expiry (the watermark
    lags one batch in a file-replay, so eviction needs a later batch), then
    K again at t0+12h: with K's state evicted, the last copy RE-EMITS.
    Plain dropDuplicates would emit K once, ever; the TTL variant emits it
    twice -- the bounded-state tradeoff that is the operator's point."""
    root = str(tmp_path)
    src = os.path.join(root, "src")
    os.makedirs(src)
    t0 = "2024-01-01 00:00:00"
    batches = [
        [(1, "k", t0), (2, "other", t0)],
        [(3, "k", "2024-01-01 05:00:00")],
        [(4, "other2", "2024-01-01 10:00:00")],
        [(5, "k", "2024-01-01 12:00:00")],
    ]
    for i, rows in enumerate(batches):
        (
            spark.createDataFrame(rows, "event_id long, key string, tss string")
            .withColumn("ts", F.col("tss").cast("timestamp"))
            .drop("tss")
            .coalesce(1)
            .write.parquet(os.path.join(src, f"b{i}"))
        )
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    stream = (
        spark.readStream.schema("event_id long, key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["key"])
    )
    table = f"ttl_{os.getpid()}"
    q = (
        stream.writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.event_id for r in spark.table(table).filter(F.col("key") == "k").collect())
    assert got == [1, 5], f"TTL dedup emitted {got}; expected first + post-expiry re-emit"


def test_pq_recall_floor(spark, sf_dir):
    """q161's 8x16 product quantizer must keep recall@10 >= 0.3 vs exact
    euclidean top-10 (measured 0.33 on the fixture: 16 codewords is a
    deliberately coarse quantizer for near-orthogonal unit vectors; the pin
    catches codebook/kernel regressions, not state-of-the-art recall)."""
    from sparkstreaming_quickstart_spark.queries.vectors import q161_pq_topk

    pq = q161_pq_topk(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    )
    import numpy as np

    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.stack([np.asarray(r.arr) for r in rows])
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    hits = total = 0
    for qid in {r.query_id for r in pq}:
        true = ((V - V[qid]) ** 2).sum(axis=1)
        true[qid] = np.inf
        exact = set(ids[np.lexsort((ids, true))[:10]].tolist())
        approx = {r.neighbor_id for r in pq if r.query_id == qid}
        hits += len(exact & approx)
        total += 10
    assert hits / total >= 0.3, f"PQ recall@10 collapsed to {hits/total:.2f}"


def test_jl_sketch_separates_near_from_far(sf_dir):
    """q156's md5-seeded sign matrix must preserve neighborhood structure:
    pairs at true distance < 1.2 (the planted near-dups) must average a
    smaller sketch distance than pairs > 1.35 (random unit pairs), with a
    >= 10% margin (measured 3.20 vs 3.99 on the fixture)."""
    import numpy as np
    import pyarrow.parquet as pq_

    from sparkstreaming_quickstart_spark.queries.vectors import _DIM, _K, _jl_sign

    t = pq_.read_table(f"{sf_dir}/embeddings.parquet")
    V = np.stack(t.column("embedding").to_numpy()).astype(np.float64)[:300]
    S = np.array([[_jl_sign(i, j) for j in range(_K)] for i in range(_DIM)], dtype=np.float64)
    P = V @ S
    dt = np.sqrt(((V[:, None, :] - V[None, :, :]) ** 2).sum(-1))
    ds = np.sqrt(((P[:, None, :] - P[None, :, :]) ** 2).sum(-1))
    iu = np.triu_indices(len(V), 1)
    dt, ds = dt[iu], ds[iu]
    near, far = ds[dt < 1.2], ds[dt > 1.35]
    assert len(near) > 10 and len(far) > 10
    assert near.mean() < 0.9 * far.mean(), (near.mean(), far.mean())


def test_cms_estimate_dominates_exact(spark, sf_dir):
    """Count-Min's one-sided error guarantee, checked row-by-row: the sketch
    estimate can only overcount."""
    from sparkstreaming_quickstart_spark.queries.corpus_quality import (
        q157_countmin_heavy_hitters,
    )

    rows = q157_countmin_heavy_hitters(spark, sf_dir).collect()
    assert rows
    assert all(r.cms_est >= r.exact_n for r in rows)
    assert all(r.overcount == r.cms_est - r.exact_n for r in rows)


def test_foreachbatch_upsert_retry_is_noop(spark, tmp_path):
    """Replaying a batch id through q177's merge must not change the state
    table -- the ledger is what turns at-least-once delivery into
    exactly-once results."""
    from sparkstreaming_quickstart_spark.queries.wave6 import make_upsert

    root = str(tmp_path)
    upsert = make_upsert(root)
    b0 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10, "click"), (1, "2024-01-01 01:00:00", 11, "error")],
        "user_id long, tss string, event_id long, event_type string",
    ).select("user_id", F.col("tss").cast("timestamp").alias("ts"), "event_id", "event_type")
    b1 = spark.createDataFrame(
        [(1, "2024-01-01 02:00:00", 12, "view")],
        "user_id long, tss string, event_id long, event_type string",
    ).select("user_id", F.col("tss").cast("timestamp").alias("ts"), "event_id", "event_type")

    def snapshot():
        df = spark.read.parquet(os.path.join(root, "state"))
        return sorted(
            (r.user_id, r.last.event_type, r.n_events) for r in df.collect()
        )

    upsert(b0, 0)
    after_b0 = snapshot()
    upsert(b0, 0)  # retried batch: must be a no-op
    assert snapshot() == after_b0
    upsert(b1, 1)
    final = snapshot()
    assert final == [(1, "view", 3)]
    upsert(b1, 1)  # retry after more batches: still a no-op
    assert snapshot() == final
