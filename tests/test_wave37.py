"""Wave-37 tests: streaming MinHash-LSH near-dup (q372).

The property the full value oracle rides on: the per-bucket min-(cap+1) set
state must make the final answer independent of the micro-batch split, so a
FORCED 3-micro-batch replay must reproduce q52's batch output exactly; the
kernel's cap/merge behavior is additionally pinned split-free at unit level.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.sources.catalog import load_table


def test_stream_minhash_multibatch_equals_batch(spark, sf_dir, tmp_path):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkstreaming_quickstart_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_BUCKET_CAP,
        MINHASH_HASHES,
        MINHASH_SEED,
        bucket_member_pairs,
        exact_jaccard_verify,
        hashed_shingle_docs,
        lsh_band_keys,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from sparkstreaming_quickstart_spark.queries.wave37 import (
        _SMH_N,
        _SMH_SHARDS,
        _SMH_T,
        _smh_shard_schemas,
        _smh_shard_update,
    )
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    splitdir = str(tmp_path)
    src = load_table(spark, sf_dir, "documents")
    src.repartition(3).write.mode("overwrite").parquet(splitdir)

    out_schema, state_schema = _smh_shard_schemas()
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitdir)
        .select("doc_id", "text")
    )
    docs = hashed_shingle_docs(stream, "text", "doc_id", _SMH_N)
    sigs = minhash_signatures(docs, MINHASH_HASHES, MINHASH_SEED, spread=False)
    banded = lsh_band_keys(sigs, MINHASH_HASHES, MINHASH_BANDS)
    res = banded.withColumn(
        "shard", F.pmod(F.col("band_key"), F.lit(_SMH_SHARDS))
    ).groupBy("band", "shard").applyInPandasWithState(
        _smh_shard_update(MINHASH_BUCKET_CAP),
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    table = run_to_memory(res, output_mode="update")
    raw = spark.table(table).toPandas()
    # interim emissions prove the replay really split into micro-batches:
    # at least one bucket must have been updated (hence emitted) twice
    n_keys = raw[["band", "band_key"]].drop_duplicates().shape[0]
    assert len(raw) > n_keys

    final = (
        spark.table(table)
        .groupBy("band", "band_key")
        .agg(F.max_by(F.struct("ids", "n_ids"), "n_rows").alias("s"))
        .select(F.col("s.ids").alias("ids"), F.col("s.n_ids").alias("n_ids"))
    )
    buckets = final.filter(
        (F.col("n_ids") >= 2) & (F.col("n_ids") <= MINHASH_BUCKET_CAP)
    ).select("ids")
    cand = bucket_member_pairs(buckets)
    got = (
        exact_jaccard_verify(cand, src, "text", "doc_id", _SMH_N, _SMH_T)
        .orderBy("d1", "d2")
        .toPandas()
    )
    want = (
        minhash_lsh_pairs(src, "text", "doc_id", n=_SMH_N, threshold=_SMH_T)
        .orderBy("d1", "d2")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _run_kernel(update, batches):
    st = _FakeState()
    last = None
    for pdf in batches:
        last = next(update((3, 77), [pdf], st))
    return st, last


def test_smh_kernel_cap_and_split_independence():
    """min-(cap+1) set state: order/split independent, idempotent under
    duplicate arrivals, and n_ids == cap+1 signals an oversize bucket."""
    from sparkstreaming_quickstart_spark.queries.wave37 import _smh_update

    update = _smh_update(2)  # cap=2 -> state holds at most 3 ids
    a = pd.DataFrame({"doc_id": [9, 5]})
    b = pd.DataFrame({"doc_id": [7, 5, 1]})  # 5 arrives twice (idempotent)
    st1, out1 = _run_kernel(update, [a, b])
    st2, out2 = _run_kernel(update, [b, a])
    st3, out3 = _run_kernel(update, [pd.concat([a, b])])
    # final ids identical under any split/order: min-3 of {1,5,7,9}
    assert st1.get[0] == st2.get[0] == st3.get[0] == [1, 5, 7]
    # n_ids == cap+1 == 3 proves the true bucket exceeds cap=2 -> droppable
    assert out1["n_ids"].iloc[0] == 3
    # n_rows counts processed rows (5 in every split) and strictly grew
    assert st1.get[1] == st2.get[1] == st3.get[1] == 5
    assert out3["band"].iloc[0] == 3 and out3["band_key"].iloc[0] == 77

    # under-cap bucket: the array IS the complete membership
    st4, out4 = _run_kernel(update, [pd.DataFrame({"doc_id": [4]})])
    assert st4.get[0] == [4] and out4["n_ids"].iloc[0] == 1


def test_partition_pruned_scan_plan(spark, sf_dir):
    """q374's plan pin: the event_type predicate must be consumed as a
    PartitionFilter (directory pruning) with NO data filter left -- the
    property that bounds the scan to the named slice at 100 TB."""
    import re

    from sparkstreaming_quickstart_spark.queries.wave37 import (
        q374_partition_pruned_scan,
    )

    df = q374_partition_pruned_scan(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "DataFilters: []" in scan, scan
    m = re.search(r"PartitionFilters: \[([^\]]*)", scan)
    assert m and "event_type" in m.group(1) and "purchase" in m.group(1), scan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """q373's plan pin: with broadcast disabled, the bucketed-table join
    carries ZERO Exchange operators below the join (bucket i reads against
    bucket i), while the identical plain-parquet join shuffles BOTH sides.
    This is the storage-bucketing contract the query exists to prove."""
    from sparkstreaming_quickstart_spark.queries.wave37 import (
        _bucketed_name,
        q373_bucketed_colocated_join,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # materialize the bucketed tables (and check values while at it)
        rows = q373_bucketed_colocated_join(spark, sf_dir).collect()
        assert len(rows) == 5 and all(r["n_lines"] > 0 for r in rows)

        li = spark.table(_bucketed_name("li_bkt", sf_dir))
        orders = spark.table(_bucketed_name("or_bkt", sf_dir))
        bucketed = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        plan_b = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan_b, plan_b

        raw_li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        raw_or = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        plain = raw_li.join(raw_or, raw_li["l_orderkey"] == raw_or["o_orderkey"])
        plan_p = plain._jdf.queryExecution().executedPlan().toString()
        assert plan_p.count("Exchange") == 2, plan_p
    finally:
        if old is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ewma_truncated_fold_matches_recursive_reference(spark, sf_dir):
    """q377: the windowed weighted fold must equal the textbook recursive
    EWMA y_t = a*x_t + (1-a)*y_{t-1} within the truncation bound
    (1-a)^K ~ 1e-4 -- and exactly (to 6dp output rounding) wherever the
    frame is saturated deep enough that truncation error < 5e-7."""
    import numpy as np
    import pandas as pd

    from sparkstreaming_quickstart_spark.queries.wave37 import (
        _EWMA_ALPHA,
        _EWMA_K,
        q377_ewma_smoothing,
    )

    got = q377_ewma_smoothing(spark, sf_dir).toPandas()
    e = (
        pd.read_parquet(f"{sf_dir}/events.parquet")[
            ["event_type", "event_id", "ts", "value"]
        ]
        .sort_values(["event_type", "ts", "event_id"])
        .reset_index(drop=True)
    )
    a = _EWMA_ALPHA
    for et, g in e.groupby("event_type"):
        x = g["value"].to_numpy()
        # recursive reference (normalized form: weights renormalized over
        # the observed prefix, which equals the standard adjusted EWMA)
        y = np.empty(len(x))
        num = den = 0.0
        for i, v in enumerate(x):
            num = v + (1 - a) * num
            den = 1.0 + (1 - a) * den
            y[i] = num / den
        sub = got[got["event_type"] == et].set_index("event_id")
        ref = pd.Series(y, index=g["event_id"].to_numpy())
        diff = (sub["ewma"] - ref.round(6)).abs()
        # truncation bound: the dropped tail's weight share is <=
        # (1-a)^K / (1/a), and it carries values bounded by max|x|
        bound = (1 - a) ** _EWMA_K / a * float(np.abs(x).max()) + 1e-6
        assert diff.max() <= bound, (et, diff.max(), bound)


def test_minhash_kernel_matches_affine_family_formula():
    """Regression pin for the round-10 tuple-unpacking bug (B == A): the
    Arrow kernel must compute exactly (a_j * (h % p) + b_j) % p per family
    member -- the contract q375's oracle replays as SQL literals.  A pure
    hashlib/python replay over a handful of synthetic docs must match the
    kernel bit for bit, and the family must not be degenerate (a != b
    somewhere)."""
    import pandas as pd

    from sparkstreaming_quickstart_spark.operators.dedup import (
        _P,
        _hash_family,
        _minhash_batches,
    )

    fam = _hash_family(96, 42)
    assert any(a != b for a, b in fam)
    docs = {
        1: [123456789012345],
        2: [123456789012345, 987654321098765],
        3: [5, 2**59, _P, _P - 1, 17],
    }
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "xs": [docs[k] for k in docs]}
    )
    out = list(_minhash_batches(96, 42)([pdf]))[0].set_index("doc_id")
    for did, xs in docs.items():
        want = [min((a * (h % _P) + b) % _P for h in xs) for a, b in fam]
        assert list(out.loc[did, "mh"]) == want, did


def test_bucketed_table_prunes_buckets_on_key_filter(spark, sf_dir):
    """The second storage-bucketing payoff q373's tables give for free:
    an equality filter on the bucket key scans ONE bucket of 8
    (SelectedBucketsCount in the scan), not the whole table."""
    from sparkstreaming_quickstart_spark.queries.wave37 import (
        _bucketed_name,
        q373_bucketed_colocated_join,
    )

    q373_bucketed_colocated_join(spark, sf_dir).collect()  # ensure tables
    li = spark.table(_bucketed_name("li_bkt", sf_dir))
    key = li.select("l_orderkey").first()["l_orderkey"]
    # autoBucketedScan demotes bucketed reads for join-free plans (it
    # trades pruning for vectorized-scan parallelism); pin it on so the
    # pruning capability itself is what's asserted.
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        plan = (
            li.filter(F.col("l_orderkey") == key)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    finally:
        if old is not None:
            spark.conf.set(conf, old)


def test_stream_minhash_out_of_order_replay_is_byte_identical(spark, sf_dir, tmp_path):
    """Round-10 verdict #6: the split-independence test forces micro-batch
    BOUNDARIES but not DISORDER.  Here the corpus is replayed twice under
    two different adversarial orderings -- docs shuffled by salted hash
    into 3 micro-batch files, so which docs share a micro-batch AND the
    order within each file both change between the runs -- and the final
    verified pair set must be byte-identical between the two replays and
    equal to q52's batch output.  This is the min-K set-union state's
    order-freedom proven at the streaming-replay level, not just the unit
    kernel."""

    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkstreaming_quickstart_spark.operators.dedup import (
        MINHASH_BANDS,
        MINHASH_BUCKET_CAP,
        MINHASH_HASHES,
        MINHASH_SEED,
        bucket_member_pairs,
        exact_jaccard_verify,
        hashed_shingle_docs,
        lsh_band_keys,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from sparkstreaming_quickstart_spark.queries.wave37 import (
        _SMH_N,
        _SMH_SHARDS,
        _SMH_T,
        _smh_shard_schemas,
        _smh_shard_update,
    )
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    src = load_table(spark, sf_dir, "documents")

    def replay(salt: str) -> pd.DataFrame:
        splitdir = str(tmp_path / salt)
        shuffled = (
            src.withColumn("__h", F.md5(F.concat_ws("|", F.lit(salt), "doc_id")))
            .repartition(3, F.col("__h"))
            .sortWithinPartitions("__h")
            .drop("__h")
        )
        shuffled.write.mode("overwrite").parquet(splitdir)
        out_schema, state_schema = _smh_shard_schemas()
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(splitdir)
            .select("doc_id", "text")
        )
        docs = hashed_shingle_docs(stream, "text", "doc_id", _SMH_N)
        sigs = minhash_signatures(docs, MINHASH_HASHES, MINHASH_SEED, spread=False)
        banded = lsh_band_keys(sigs, MINHASH_HASHES, MINHASH_BANDS)
        res = banded.withColumn(
            "shard", F.pmod(F.col("band_key"), F.lit(_SMH_SHARDS))
        ).groupBy("band", "shard").applyInPandasWithState(
            _smh_shard_update(MINHASH_BUCKET_CAP),
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        table = run_to_memory(res, output_mode="update")
        final = (
            spark.table(table)
            .groupBy("band", "band_key")
            .agg(F.max_by(F.struct("ids", "n_ids"), "n_rows").alias("s"))
            .select(F.col("s.ids").alias("ids"), F.col("s.n_ids").alias("n_ids"))
        )
        buckets = final.filter(
            (F.col("n_ids") >= 2) & (F.col("n_ids") <= MINHASH_BUCKET_CAP)
        ).select("ids")
        cand = bucket_member_pairs(buckets)
        return (
            exact_jaccard_verify(cand, src, "text", "doc_id", _SMH_N, _SMH_T)
            .orderBy("d1", "d2")
            .toPandas()
        )

    got_a = replay("orderA")
    got_b = replay("orderB")
    pd.testing.assert_frame_equal(got_a, got_b)
    want = (
        minhash_lsh_pairs(src, "text", "doc_id", n=_SMH_N, threshold=_SMH_T)
        .orderBy("d1", "d2")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got_a, want)


def test_smh_shard_kernel_equals_per_bucket_kernel():
    """Round-13 sharded state: the shard kernel's per-bucket final state
    must be IDENTICAL to the per-bucket reference kernel's (same
    min-(cap+1) set, same ascending order), split/order independent, with
    only TOUCHED buckets emitted per batch and the emission carrying the
    bucket's current (final-as-of-batch) ids."""
    import pandas as pd

    from sparkstreaming_quickstart_spark.queries.wave37 import (
        _smh_shard_update,
        _smh_update,
    )

    cap = 2
    a = pd.DataFrame({"band_key": [10, 10, 20], "doc_id": [9, 5, 4]})
    b = pd.DataFrame({"band_key": [10, 10, 10, 30], "doc_id": [7, 5, 1, 2]})

    def run_shard(batches):
        st = _FakeState()
        outs = []
        for pdf in batches:
            outs.append(
                pd.concat(list(_smh_shard_update(cap)((3, 7), [pdf], st)))
            )
        return st, outs

    st1, outs1 = run_shard([a, b])
    st2, outs2 = run_shard([b, a])
    st3, outs3 = run_shard([pd.concat([a, b])])
    # final shard state identical under any split/order
    assert st1.get == st2.get == st3.get
    bks, flat, cnts, n_rows = st1.get
    assert n_rows == 7
    # per-bucket state equals the per-bucket reference kernel
    state_by_bk = {}
    off = 0
    for bk, c in zip(bks, cnts):
        state_by_bk[bk] = flat[off: off + c]
        off += c
    all_rows = pd.concat([a, b])
    for bk in (10, 20, 30):
        ref_st = _FakeState()
        pdf = all_rows[all_rows["band_key"] == bk][["doc_id"]]
        next(_smh_update(cap)((3, bk), [pdf], ref_st))
        assert state_by_bk[bk] == ref_st.get[0], bk
    # emit-only-touched: batch b touches buckets 10 and 30, not 20
    assert sorted(outs1[1]["band_key"]) == [10, 30]
    # the second emission of bucket 10 carries its post-merge final ids
    row = outs1[1][outs1[1]["band_key"] == 10].iloc[0]
    assert row["ids"] == [1, 5, 7] and row["n_ids"] == 3
    assert (outs1[1]["band"] == 3).all() and (outs1[1]["n_rows"] == 7).all()
