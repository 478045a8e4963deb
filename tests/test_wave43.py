"""Round-13 optimization pins: the blocked all-pairs cosine kernel (q114),
the per-bucket euclidean kernel behind q178, and the hashed-bucket exact
Jaccard spelling (q51) must be VALUE-IDENTICAL to the JVM-fold spellings
they replaced.  Each test replays the old spelling inline (it no longer
exists in the operators) and compares ids + bit-level doubles.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _bits(xs):
    return [struct.pack("d", float(x)) for x in xs]


def _write_embeddings(tmp_path, vecs):
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [np.asarray(v, dtype="float32") for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _old_all_pairs_fold(e, threshold):
    """The pre-round-13 q114 spelling: theta join + per-pair JVM fold."""
    from sparkstreaming_quickstart_spark.operators.similarity import (
        _pair_cosine,
        dot,
        norm,
    )

    c = e.select(
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("v1"),
        norm(F.col("embedding")).alias("n1"),
    )
    d = e.select(
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("v2"),
        norm(F.col("embedding")).alias("n2"),
    )
    return (
        c.join(d, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            _pair_cosine(
                dot(F.col("v1"), F.col("v2")), F.col("n1"), F.col("n2"), 9
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def test_blocked_all_pairs_matches_fold_and_handles_zero_norm(
    spark, tmp_path_factory
):
    from sparkstreaming_quickstart_spark.operators.similarity import (
        all_pairs_cosine_arrow,
    )

    rng = np.random.default_rng(5)
    vecs = list(rng.normal(size=(60, 64)))
    vecs[7] = np.zeros(64)  # zero-norm row: legal input, must never pair
    sf = _write_embeddings(tmp_path_factory.mktemp("emb"), vecs)
    e = spark.read.parquet(f"{sf}/embeddings.parquet")

    old = sorted(
        (r.id1, r.id2, r.cos_sim) for r in _old_all_pairs_fold(e, -0.2).collect()
    )
    # low threshold + several block counts: every unordered pair must land in
    # exactly one block-pair group regardless of B
    for n_blocks in (1, 2, 5):
        new = sorted(
            (r.id1, r.id2, r.cos_sim)
            for r in all_pairs_cosine_arrow(
                e, "vec_id", "embedding", -0.2, n_blocks=n_blocks
            ).collect()
        )
        assert [x[:2] for x in new] == [x[:2] for x in old]
        assert _bits(x[2] for x in new) == _bits(x[2] for x in old)
    assert all(7 not in (a, b) for a, b, _ in old)


def test_q114_plan_is_blocked_kernel_not_nested_loop(spark, sf_dir):
    from sparkstreaming_quickstart_spark.plans.inspect import explain_str
    from sparkstreaming_quickstart_spark.queries.llm import (
        q114_dedup_embedding_exact,
    )

    plan = explain_str(q114_dedup_embedding_exact(spark, sf_dir), "simple")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_euclid_kernel_matches_jvm_fold(spark):
    from sparkstreaming_quickstart_spark.operators.similarity import (
        bucketed_euclid_pairs_arrow,
    )

    rng = np.random.default_rng(11)
    n = 40
    vecs = [list(map(float, rng.normal(size=8))) for _ in range(n)]
    rows = []
    for i in range(n):
        # overlapping OR-tables: each id lands in 2 buckets, shared pairs
        # must collapse to one row under distinct()
        for tbl, h in ((0, i % 3), (1, i % 2)):
            rows.append((i, vecs[i], tbl, float(h)))
    df = spark.createDataFrame(
        rows, "vec_id long, arr array<double>, tbl int, h double"
    )
    thr = 4.2
    got = sorted(
        (r.id1, r.id2, r.eucl_dist)
        for r in bucketed_euclid_pairs_arrow(
            df, ["tbl", "h"], "vec_id", "arr", thr, 6
        )
        .distinct()
        .collect()
    )
    # JVM fold replay over the same candidate set
    a = df.select(F.col("vec_id").alias("id1"), F.col("arr").alias("a1"), "tbl", "h")
    b = df.select(F.col("vec_id").alias("id2"), F.col("arr").alias("a2"), "tbl", "h")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("a1", "a2", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    want = sorted(
        (r.id1, r.id2, r.eucl_dist)
        for r in a.join(b, ["tbl", "h"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("d", dist)
        .filter(F.col("d") < thr)
        .select("id1", "id2", F.round("d", 6).alias("eucl_dist"))
        .distinct()
        .collect()
    )
    assert [x[:2] for x in got] == [x[:2] for x in want]
    assert _bits(x[2] for x in got) == _bits(x[2] for x in want)


def test_q178_plan_drops_wide_struct_join(spark, sf_dir):
    from sparkstreaming_quickstart_spark.plans.inspect import explain_str
    from sparkstreaming_quickstart_spark.queries.wave6 import (
        q178_brp_lsh_euclidean,
    )

    plan = explain_str(q178_brp_lsh_euclidean(spark, sf_dir), "simple")
    assert "FlatMapGroupsInPandas" in plan
    # the old shape: approxSimilarityJoin's wide-struct shuffle join + two
    # re-verify joins; the new plan has NO join at all
    for tok in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert tok not in plan, plan
    # the kernel's input shuffle has an explicit count, which AQE's
    # byte-sized coalescing leaves alone (a bucket costs its rows squared)
    assert "REPARTITION_BY_NUM" in plan, plan


def test_simhash_prefiltered_expansion_matches_distinct_then_filter(spark):
    """Round-13 q53 tail: the Hamming test moved inside the pair-expansion
    lambda (filter-then-distinct).  Replay the old distinct-then-filter
    spelling from the same fingerprints and require identical rows."""
    from sparkstreaming_quickstart_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    texts = [
        base,
        base + " extra",  # near-dup of 0 (one added token)
        base,  # exact dup of 0 (hamming 0)
        base.replace("tok7", "zzz7"),  # near-dup of 0 (one swapped token)
        "totally different words entirely here now ok yes",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.d1, r.d2, r.hamming)
        for r in simhash_pairs(df, "text", "doc_id", 3).collect()
    )
    # old spelling: expand (d1, d2, fp1, fp2), distinct, THEN hamming filter
    fp = simhash_fingerprints(df, "text", "doc_id")
    nblocks, width = 4, 16
    blocks = fp.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1) if i < nblocks - 1 else F.lit(-1)
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    buckets = (
        blocks.groupBy("block", "block_val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "fp"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice("ms", i + F.lit(2), F.size("ms")),
                lambda y: F.struct(
                    x["doc_id"].alias("d1"),
                    y["doc_id"].alias("d2"),
                    x["fp"].alias("fp1"),
                    y["fp"].alias("fp2"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.d1", "p.d2", "p.fp1", "p.fp2")
        .distinct()
    )
    ham = F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2")))
    want = sorted(
        (r.d1, r.d2, r.hamming)
        for r in cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("d1", "d2", "hamming")
        .collect()
    )
    assert got == want and len(got) >= 2


def test_q85_bucket_candidates_match_approx_similarity_join(spark, sf_dir):
    """The round-13 q85 spelling (MLlib transform -> (table, min-hash)
    groupBy -> shared exact verify) must emit exactly what the
    approxSimilarityJoin + inline string-shingle verify spelling emitted:
    same pairs, bit-identical jaccard doubles.  The old spelling is replayed
    inline (it no longer exists in the query)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from sparkstreaming_quickstart_spark.functions.text import word_shingles
    from sparkstreaming_quickstart_spark.queries.llm import (
        q85_dedup_minhash_mllib,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    got = sorted(
        (r.d1, r.d2, r.jaccard)
        for r in q85_dedup_minhash_mllib(spark, sf_dir).collect()
    )
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", word_shingles("text", 3).alias("shingles"))
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 20
    ).transform(sh)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(tf)
    cand = model.approxSimilarityJoin(tf, tf, 0.5, distCol="dist").filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    )
    common = F.size(
        F.array_intersect(F.col("datasetA.shingles"), F.col("datasetB.shingles"))
    )
    union = F.size(F.col("datasetA.shingles")) + F.size(F.col("datasetB.shingles")) - common
    want = sorted(
        (r.d1, r.d2, r.jaccard)
        for r in cand.select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            (common.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.7)
        .collect()
    )
    assert [x[:2] for x in got] == [x[:2] for x in want]
    assert _bits(x[2] for x in got) == _bits(x[2] for x in want)


def test_ngram_jaccard_hashed_buckets_match_string_join(spark):
    from sparkstreaming_quickstart_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_docs,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a b a b a b a b",  # duplicate shingles collapse via distinct
        "a b a b a b a c",
        "short one",  # shorter than one full shingle window
        "short one",
        "",  # empty text
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        (r.d1, r.d2, r.jaccard)
        for r in ngram_jaccard_pairs(df, "text", "doc_id", 3, 0.2).collect()
    )
    # old string-join spelling
    docs = shingle_docs(df, "text", "doc_id", 3)
    inv = docs.select("doc_id", "n_sh", F.explode("shingles").alias("s"))
    a = inv.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"), "s")
    b = inv.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"), "s")
    common = (
        a.join(b, ["s"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count("*").alias("common"))
    )
    want = sorted(
        (r.d1, r.d2, r.jaccard)
        for r in common.withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")),
        )
        .filter(F.col("jaccard") >= 0.2)
        .select("d1", "d2", "jaccard")
        .collect()
    )
    assert [x[:2] for x in got] == [x[:2] for x in want]
    assert _bits(x[2] for x in got) == _bits(x[2] for x in want)
