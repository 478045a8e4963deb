"""Unit tests for composed operators: as-of join, dedup family, similarity,
multimodal plumbing, money-exact aggregation."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from sparkstreaming_quickstart_spark.functions.money import dsum
from sparkstreaming_quickstart_spark.functions.text import word_shingles
from sparkstreaming_quickstart_spark.operators.asof import asof_join
from sparkstreaming_quickstart_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from sparkstreaming_quickstart_spark.operators.multimodal import extract_media_meta, with_binary_payload
from sparkstreaming_quickstart_spark.operators.similarity import ann_lsh_topk, topk_cosine


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_inclusive_and_tiebreak(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T10:00:00")), (2, 10, _ts("2024-01-01T09:00:00")), (3, 11, _ts("2024-01-01T10:00:00"))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T09:30:00")),
            (101, 10, _ts("2024-01-01T10:00:00")),  # exactly at probe time -> visible
            (102, 10, _ts("2024-01-01T11:00:00")),  # future -> invisible
        ],
        ["quote_id", "user_id", "qts"],
    )
    out = asof_join(
        left,
        right.select("user_id", "qts", "quote_id"),
        on="user_id",
        left_time="ts",
        right_time="qts",
        value_cols=["quote_id"],
        tiebreak="quote_id",
    ).orderBy("event_id")
    rows = {r.event_id: r.asof_quote_id for r in out.collect()}
    assert rows == {1: 101, 2: None, 3: None}


def test_asof_join_tolerance_validation(spark):
    import pytest

    left_ts = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01T10:00:00"))], ["event_id", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01T09:30:00"))], ["quote_id", "user_id", "qts"]
    ).select("user_id", "qts", "quote_id")
    kw = dict(on="user_id", left_time="ts", right_time="qts",
              value_cols=["quote_id"], tiebreak="quote_id")
    # Malformed interval literal is rejected before reaching F.expr.
    with pytest.raises(ValueError, match="interval literal"):
        asof_join(left_ts, right, tolerance="2 hours); DROP TABLE x", **kw)
    # Multi-unit literals are fine.
    asof_join(left_ts, right, tolerance="1 day 30 minutes", **kw).collect()
    # Numeric time columns work without tolerance but fail clearly with it.
    left_num = spark.createDataFrame([(1, 10, 100.0)], ["event_id", "user_id", "ts"])
    right_num = spark.createDataFrame([(100, 10, 90.0)], ["quote_id", "user_id", "qts"]).select(
        "user_id", "qts", "quote_id"
    )
    asof_join(left_num, right_num, **kw).collect()
    with pytest.raises(TypeError, match="timestamp-typed"):
        asof_join(left_num, right_num, tolerance="2 hours", **kw)


def test_exact_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
            (3, "z y x w v u t s r q"),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0].d1, pairs[0].d2, pairs[0].jaccard) == (1, 2, 1.0)


def test_minhash_lsh_equals_exact_on_testdata(spark, sf_dir):
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.d1, r.d2) for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.5).collect()}
    lsh = {(r.d1, r.d2) for r in minhash_lsh_pairs(docs, "text", "doc_id", 3, 0.5).collect()}
    assert lsh == exact


def test_minhash_lsh_hot_bucket_cap(spark):
    # A pathological bucket -- many documents sharing every band key -- must
    # be dropped before the quadratic in-bucket pair expansion, and the drop
    # must be observable.  200 identical docs (one bucket of 200 per band)
    # plus one genuine near-dup pair that stays under the cap.
    from pyspark.sql import Observation

    rows = [(i, "a b c d e f g h i j k l") for i in range(200)]
    rows += [(900, "p q r s t u v w x y z zz"), (901, "p q r s t u v w x y z yy")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    obs = Observation("lsh_cap")
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", n=3, threshold=0.5, bucket_cap=50, observation=obs
    ).collect()
    got = {(r.d1, r.d2) for r in pairs}
    # the 200-clone cluster is capped away; the small pair survives
    assert (900, 901) in got
    assert not any(d1 < 200 and d2 < 200 for d1, d2 in got)
    assert obs.get["hot_buckets_dropped"] > 0
    assert obs.get["hot_bucket_members_dropped"] >= 200


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "one two three four")],
        ["doc_id", "text"],
    )
    pairs = {(r.d1, r.d2): r.hamming for r in simhash_pairs(df, "text", "doc_id", 3).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_topk_cosine_self_similar_vectors(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = topk_cosine(df.filter("vec_id = 1"), df, "vec_id", "embedding", "vec_id", "embedding", k=2)
    got = [(r.neighbor_id, r.rank) for r in out.collect()]
    assert got == [(2, 1), (3, 2)] or got[0] == (2, 1)


def test_ann_recall_against_exact(spark, sf_dir):
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)
    exact = topk_cosine(q, emb, "vec_id", "embedding", "vec_id", "embedding", k=5)
    ann = ann_lsh_topk(q, emb, "vec_id", "embedding", "vec_id", "embedding", dim=64, k=5, nbits=8)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ann_pairs = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    # ANN is approximate: it must return a subset-quality result with
    # nonzero overlap, and every ANN pair must share the query's bucket.
    assert ann_pairs, "ANN returned nothing"
    assert len(ann_pairs & exact_pairs) > 0


def test_word_shingles_count(spark):
    df = spark.createDataFrame([(1, "a b c d")], ["id", "text"])
    out = df.select(word_shingles("text", 3).alias("sh")).collect()[0].sh
    assert out == ["a b c", "b c d"]


def test_multimodal_meta_matches_python(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "x" * 700)], ["doc_id", "text"])
    meta = extract_media_meta(with_binary_payload(df, "text")).orderBy("doc_id").collect()
    assert meta[0].n_bytes == 11 and meta[0].fake_width == 12 and meta[0].fake_height == 12
    assert meta[1].n_bytes == 700 and meta[1].fake_width == 61 and meta[1].fake_height == 221


def test_dsum_is_exact(spark):
    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)] * 1000, ["x"])
    total = df.repartition(13).agg(dsum("x").alias("s")).collect()[0].s
    assert total == 600.0  # float sum would drift; decimal sum is exact


def test_resize_media_deterministic_fixed_size(spark):
    from sparkstreaming_quickstart_spark.operators.multimodal import (
        fake_resize,
        resize_media,
        with_binary_payload,
    )

    df = with_binary_payload(
        spark.createDataFrame([(1, "short"), (2, "x" * 5000)], ["doc_id", "text"]), "text"
    )
    rows = {r.doc_id: r for r in resize_media(df, 64, 48).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert len(r.resized) == 64 * 48 and (r.out_w, r.out_h) == (64, 48)
    # short payload zero-padded; long payload truncated -- both deterministic
    assert bytes(rows[1].resized) == fake_resize(b"short", 64, 48)
    assert bytes(rows[2].resized) == b"x" * 3072


def test_classic_row_udf_matches_builtin(spark, sf_dir):
    # SURVEY 2.B lists the classic row-at-a-time UDF; it exists and is
    # correct, but the builtin (codegen) form is the engine's hot path --
    # this pins equivalence, not performance.
    from pyspark.sql.functions import udf
    from pyspark.sql.types import StringType

    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    shout = udf(lambda s: s.upper() if s is not None else None, StringType())
    d = load_table(spark, sf_dir, "documents").limit(50)
    rows = d.select(shout("text").alias("a"), F.upper("text").alias("b")).collect()
    assert rows and all(r.a == r.b for r in rows)


def test_zero_norm_vectors_do_not_abort_similarity(spark):
    # A zero vector (padded/failed-encode embedding) has undefined cosine;
    # under Spark 4 ANSI mode a plain division would abort the whole query
    # with DIVIDE_BY_ZERO.  try_divide nulls it out: excluded from threshold
    # results, ranked last in top-k.
    from sparkstreaming_quickstart_spark.operators.similarity import (
        embedding_cosine_pairs,
        topk_cosine,
    )

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_cosine_pairs(df, "vec_id", "embedding", threshold=0.5).collect()
    assert {(r.id1, r.id2) for r in pairs} == {(1, 2)}
    top = topk_cosine(df, df, "vec_id", "embedding", "vec_id", "embedding", k=2).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
    # query 1: real neighbor 2 first, zero-vector 3 last with null score
    assert by_q[1][0][1] == 2 and by_q[1][1][2] is None


def test_sample_frames_empty_payload_yields_no_frames(spark):
    from sparkstreaming_quickstart_spark.operators.multimodal import (
        sample_frames,
        with_binary_payload,
    )

    df = with_binary_payload(
        spark.createDataFrame([(1, ""), (2, "x" * 100)], ["doc_id", "text"]), "text"
    )
    out = sample_frames(df, "doc_id", frame_bytes=64, every=1).collect()
    ids = sorted((r.doc_id, r.frame_idx) for r in out)
    assert ids == [(2, 0), (2, 1)], ids


def test_from_json_malformed_rows_yield_null_not_abort(spark):
    # PERMISSIVE (default) JSON decode: corrupt rows become null structs, the
    # query completes -- at 100 TB a single bad record must not kill the job.
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "{not json"), (3, None), (4, '{"k": "str"}')],
        ["id", "props"],
    )
    out = {
        r.id: r.k
        for r in df.select("id", F.from_json("props", "k int").alias("p"))
        .select("id", F.col("p.k").alias("k"))
        .collect()
    }
    assert out == {1: 5, 2: None, 3: None, 4: None}


def test_rand_seed_reproducible_within_fixed_partitioning(spark):
    # rand(seed) is deterministic per (partition, row-offset) -- stable when
    # the partitioning is stable, NOT across repartitionings.  That is why no
    # oracle query uses it: the engine exposes it, and its reproducibility
    # contract is pinned here instead.
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, 1, 4)
    a = [r.r for r in df.withColumn("r", F.rand(42)).collect()]
    b = [r.r for r in df.withColumn("r", F.rand(42)).collect()]
    assert a == b
    assert len(set(a)) > 990  # actually random-looking, not constant


def test_stratified_sample_reproducible_and_bounded(spark, sf_dir):
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    fractions = {r.lang: 0.2 for r in d.select("lang").distinct().collect()}
    a = sorted(r.doc_id for r in d.sampleBy("lang", fractions, seed=7).collect())
    b = sorted(r.doc_id for r in d.sampleBy("lang", fractions, seed=7).collect())
    assert a == b, "seeded sampleBy must be reproducible under a fixed partitioning"
    total = d.count()
    assert 0 < len(a) < total  # actually sampled, not all/nothing


def test_connected_components_chain_and_islands(spark):
    # Chain 1-2-3 collapses to one cluster even though (1,3) was never a
    # pair -- the property q86's simpler drop-d2 rule does not guarantee.
    from sparkstreaming_quickstart_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)], ["d1", "d2"]
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_sequence_packing_oversized_doc_gets_own_bin(spark, tmp_path):
    """A document larger than the 512-token budget must occupy a bin by
    itself (never merged into the previous bin), and packing must resume
    normally after it -- the greedy reset edge the recursive-CTE oracle and
    the applyInPandas kernel must agree on."""
    import pandas as pd

    from pyspark.sql import functions as F

    rows = [
        ("xx", 1, "a " * 200),    # 200 tok -> bin 0
        ("xx", 2, "b " * 300),    # 500 total -> still bin 0
        ("xx", 3, "c " * 600),    # oversized -> bin 1 alone
        ("xx", 4, "d " * 100),    # bin 2 (previous bin overflowed)
        ("xx", 5, "e " * 400),    # 500 total -> bin 2
        ("xx", 6, "f " * 50),     # would be 550 -> bin 3
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string").select(
        "lang", "doc_id", F.trim("text").alias("text")
    )

    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    # reuse the registered query against this fixture directory
    from sparkstreaming_quickstart_spark.queries.traindata import q145_sequence_packing

    out = {(r.bin, r.n_docs, r.n_tokens) for r in q145_sequence_packing(spark, d).collect()}
    assert out == {(0, 2, 500), (1, 1, 600), (2, 2, 500), (3, 1, 50)}, out


def test_asof_join_forward_and_nearest(spark):
    import pytest

    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T10:00:00")),  # quote exactly at t -> matches in all directions
            (2, 10, _ts("2024-01-01T08:00:00")),  # only future quotes
            (3, 10, _ts("2024-01-01T12:00:00")),  # only past quotes
            (4, 10, _ts("2024-01-01T09:45:00")),  # backward 15min vs forward 15min -> tie -> backward
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (100, 10, _ts("2024-01-01T09:30:00")),
            (101, 10, _ts("2024-01-01T10:00:00")),
        ],
        ["quote_id", "user_id", "qts"],
    ).select("user_id", "qts", "quote_id")
    kw = dict(on="user_id", left_time="ts", right_time="qts",
              value_cols=["quote_id"], tiebreak="quote_id")
    fwd = {
        r.event_id: r.asof_quote_id
        for r in asof_join(left, right, direction="forward", **kw).collect()
    }
    # forward: earliest quote with qts >= ts (inclusive at event 1)
    assert fwd == {1: 101, 2: 100, 3: None, 4: 101}
    near = {
        r.event_id: r.asof_quote_id
        for r in asof_join(left, right, direction="nearest", **kw).collect()
    }
    # nearest: exact match; future-only; past-only; equidistant -> backward
    assert near == {1: 101, 2: 100, 3: 101, 4: 100}
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, direction="sideways", **kw)


def test_md5_hash_family_matches_duckdb_and_fast_path(spark):
    """Pins the two cross-engine hash contracts: md5_lower64 equals DuckDB's
    md5_number_lower byte-for-byte, and md5_mod equals DuckDB's UNSIGNED
    `md5_number_lower(x) % m` for every modulus class in use (2 sign, 8 RAG
    dims, 64 feature/DSIR buckets, 512 CMS width) AND for a non-power-of-two
    modulus (m=100), where the signed-pmod shortcut would diverge on inputs
    with bit 63 set (round-6 advice; the fallback now reconstructs the
    unsigned residue exactly)."""
    import duckdb

    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.operators.dedup import md5_lower64, md5_mod

    df = spark.range(500).select(F.concat(F.lit("probe|"), F.col("id")).alias("s"))
    got = {
        r["s"]: r["h"]
        for r in df.select("s", md5_lower64(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    raw = con.execute(
        "SELECT 'probe|' || i, md5_number_lower('probe|' || i) FROM range(500) t(i)"
    ).fetchall()
    con.close()
    # DuckDB returns UINT64; Spark longs are the two's-complement view.
    want = {s: (v - (1 << 64) if v >= (1 << 63) else v) for s, v in raw}
    assert got == want
    for m in (2, 8, 64, 512, 100):
        got_mod = {
            r["s"]: r["b"]
            for r in df.select("s", md5_mod(F.col("s"), m).alias("b")).collect()
        }
        # DuckDB's UNSIGNED residue is THE contract for every m.
        want_mod = {s: v % m for s, v in raw}
        assert got_mod == want_mod, f"md5_mod diverges from DuckDB for m={m}"
