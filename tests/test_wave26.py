"""Wave-26 tests: the streaming weighted reservoir's merge property --
the final per-key state must equal the batch A-Res ranking under a forced
multi-micro-batch replay (the single-batch assumption is exactly what the
merge property has to survive), and the registered query must match a
hashlib replay of the key arithmetic."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.sources.catalog import load_table


def test_stream_reservoir_multibatch_equals_batch(spark, sf_dir, tmp_path):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkstreaming_quickstart_spark.queries.wave26 import (
        _SRS_K,
        _reservoir_keyed,
        _reservoir_schemas,
        _reservoir_update,
    )
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    splitdir = str(tmp_path)
    src = load_table(spark, sf_dir, "events")
    src.repartition(3).write.mode("overwrite").parquet(splitdir)

    out_schema, state_schema = _reservoir_schemas()
    stream = _reservoir_keyed(
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitdir)
    )
    res = stream.groupBy("event_type").applyInPandasWithState(
        _reservoir_update(_SRS_K),
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    table = run_to_memory(res, output_mode="update")
    raw = spark.table(table)
    # the split really produced interim emissions (multi-batch replay)
    assert raw.count() > raw.select("event_type").distinct().count() * _SRS_K - _SRS_K
    final = (
        raw.withColumn("mx", F.max("n_seen").over(Window.partitionBy("event_type")))
        .filter(F.col("n_seen") == F.col("mx"))
        .select("event_type", "rank", "event_id", "key")
    )
    batch = _reservoir_keyed(src)
    w = Window.partitionBy("event_type").orderBy(F.col("k").desc(), "event_id")
    expected = (
        batch.select("event_type", "event_id", "k", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= _SRS_K)
        .select("event_type", "rank", "event_id", F.col("k").alias("key"))
    )
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0


def test_stream_reservoir_key_matches_hashlib_replay(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave26 import (
        _SRS_SALT,
        q340_stream_weighted_reservoir,
    )

    rows = q340_stream_weighted_reservoir(spark, sf_dir).collect()
    assert rows
    e = pd.read_parquet(f"{sf_dir}/events.parquet").set_index("event_id")
    for r in rows[:25]:
        u = (
            int(
                hashlib.md5(f"{_SRS_SALT}{r['event_id']}".encode()).hexdigest()[:8], 16
            )
            + 0.5
        ) / 2**32
        wt = float(e.loc[r["event_id"], "value"])
        assert r["key"] == round(math.log(u) / wt, 9)
        assert r["weight"] == round(wt, 6)


def test_dedup_keep_longest_matches_python_reference(spark, sf_dir):
    from test_wave23 import _exact_dup_pairs

    from sparkstreaming_quickstart_spark.queries.wave26 import (
        q341_dedup_keep_longest,
    )

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    ntok = {r.doc_id: len(r.text.split(" ")) for r in d.itertuples()}
    # union-find over the exact pair graph
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _exact_dup_pairs(sf_dir):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for n in parent:
        clusters.setdefault(find(n), []).append(n)
    expected = {}
    for members in clusters.values():
        cid = min(members)
        keeper = min(members, key=lambda m: (-ntok[m], m))
        expected[cid] = (
            keeper,
            len(members),
            ntok[keeper],
            sum(ntok[m] for m in members) - ntok[keeper],
        )
    rows = q341_dedup_keep_longest(spark, sf_dir).collect()
    got = {
        r["cluster_id"]: (
            r["keeper_id"],
            r["n_members"],
            r["tokens_kept"],
            r["tokens_dropped"],
        )
        for r in rows
    }
    assert got == expected
