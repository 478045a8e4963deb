"""Round-12 pins: the adaptive-nlist IVF quantizer's cross-engine contract.

The adaptive family (q385-q392) moved from fixed-16-cell seeded-numpy
centroid literals to (a) a cell count derived from COUNT(*) on both sides
and (b) centroids from a pure-integer formula both engines evaluate from
scratch.  These tests pin the two cross-engine equalities everything else
rests on -- if either drifts, every adaptive-family oracle fails at once,
so fail HERE first with a readable message.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from sparkstreaming_quickstart_spark.operators.similarity import (
    SQL_NLIST_EXPR,
    adaptive_centroids,
    nlist_for,
    sql_adaptive_cell_cte,
    sql_adaptive_quantizer_ctes,
)


def test_nlist_rule_matches_duckdb_across_decades():
    """nlist_for (bit-twiddling, exact) == the SQL expression (double
    log2/power) for every corpus size up to 2^22 that the rule could see
    in a fixture, plus the exact power-of-two boundaries where a 1-ulp
    log2 error would flip the floor."""
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT n, {SQL_NLIST_EXPR.replace('cnt', 'n')} FROM range(1, 300000) t(n)"
    ).fetchall()
    bad = [(n, got, nlist_for(n)) for n, got in rows if got != nlist_for(n)]
    assert not bad, bad[:5]
    boundaries = [1 << k for k in range(1, 41)]
    edge = [v for b in boundaries for v in (b - 1, b, b + 1)]
    rows = con.execute(
        f"SELECT n, {SQL_NLIST_EXPR.replace('cnt', 'n')} "
        f"FROM (SELECT unnest({edge}) AS n)"
    ).fetchall()
    bad = [(n, got, nlist_for(n)) for n, got in rows if got != nlist_for(n)]
    assert not bad, bad


def test_formula_centroids_bitwise_equal_to_sql():
    """adaptive_centroids == the cents CTE, double-for-double (not approx:
    the integer chain is exact in both engines and the float normalization
    is the same three correctly-rounded IEEE ops)."""
    dim, nlist = 64, 256
    con = duckdb.connect()
    # splice the cents CTE against a dummy src whose count forces `nlist`
    ctes = sql_adaptive_quantizer_ctes(dim, src="e")
    rows = con.execute(
        f"WITH e AS (SELECT * FROM range({nlist * nlist})), {ctes} "
        "SELECT j, w FROM cents ORDER BY j"
    ).fetchall()
    assert len(rows) == nlist
    got = np.array([r[1] for r in rows])
    want = adaptive_centroids(dim, nlist)
    assert got.shape == want.shape
    assert np.array_equal(got, want), np.argwhere(got != want)[:5]


def test_assign_cells_arrow_matches_sql_assignment(spark, sf_dir):
    """The Arrow matmul argmax (round-9, first-max) reproduces the oracle's
    ROW_NUMBER ... ORDER BY ROUND(dot, 9) DESC, j assignment row-for-row
    on the real fixture."""
    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.operators.similarity import (
        assign_cells_arrow,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = e.count()
    W = adaptive_centroids(64, nlist_for(n))
    got = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_arrow(e, "v", W).select("vec_id", "cell").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    sql = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {sql_adaptive_quantizer_ctes(64, src="e")},
    {sql_adaptive_cell_cte("e", "vec_id")}
    SELECT vec_id, cell FROM cells
    """
    want = dict(con.execute(sql).fetchall())
    assert len(got) == n == len(want)
    diff = {k for k in want if got[k] != want[k]}
    assert not diff, sorted(diff)[:5]


def test_nlist_for_decades():
    """The rule's concrete values at the fixture decades (the SCALING.md
    table): a moved decade means layouts silently re-key."""
    assert nlist_for(500) == 16
    assert nlist_for(2000) == 32
    assert nlist_for(20000) == 128
    assert nlist_for(200000) == 256
    assert nlist_for(1) == 16
    with pytest.raises(TypeError):
        nlist_for(None)


def test_tag_dictionary_dispatch_regimes(spark, sf_dir):
    """The dispatcher must compile the small-dict call to pure JVM codegen
    (NO Arrow/Python node anywhere in the plan) and the large-dict call to
    the Arrow automaton kernel -- and both branches must produce identical
    values for the same dictionary (forced by crossover override)."""
    from sparkstreaming_quickstart_spark.operators.text_scan import (
        tag_dictionary,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    small = [("hash join", "ops"), ("table scan", "ops"), ("gpu kernel", "absent")]

    jvm = tag_dictionary(d, "text", small)
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    # "InPandas" covers MapInPandas AND FlatMapGroupsInPandas (the round-12
    # pin misspelled the latter as "FlatMapsInPandas", a vacuous clause)
    assert "ArrowEvalPython" not in plan and "InPandas" not in plan, plan

    arrow = tag_dictionary(d, "text", small, crossover=1)
    plan2 = arrow._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan2 or "ArrowEvalPython" in plan2, plan2

    as_rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
    assert as_rows(jvm) == as_rows(arrow)


def test_q394_append_sessions_are_split_independent(spark, sf_dir, tmp_path):
    """Force 3 micro-batches (contiguous time slices, mtime-pinned replay
    order: each batch only ADVANCES the watermark, so nothing is
    late-dropped) -- the appended session set must equal the registered
    single-file drain AND the oracle's closed-session rule.  This is the
    time-based-state analogue of q372's split-independence pin."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.queries.wave40 import (
        q394_stream_session_append,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    src = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    qs = src.approxQuantile("value", [0.0], 0)  # force materialization once
    assert qs
    t1, t2 = (
        src.selectExpr(
            "percentile(cast(ts as double), 0.33) as a",
            "percentile(cast(ts as double), 0.66) as b",
        )
        .collect()[0]
    )
    slices = [
        src.filter(F.col("ts").cast("double") < t1),
        src.filter(
            (F.col("ts").cast("double") >= t1) & (F.col("ts").cast("double") < t2)
        ),
        src.filter(F.col("ts").cast("double") >= t2),
    ]
    workdir, stage = str(tmp_path / "parts"), str(tmp_path / "stage")
    os.mkdir(stage)
    now = time.time()
    for i, part in enumerate(slices):
        part.coalesce(1).write.parquet(os.path.join(workdir, f"p{i}"))
        f = glob.glob(os.path.join(workdir, f"p{i}", "*.parquet"))[0]
        tgt = os.path.join(stage, f"{i}.parquet")
        shutil.copy(f, tgt)
        os.utime(tgt, (now - 300 + i * 100, now - 300 + i * 100))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .withWatermark("ts", "2 hours")
    )
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    table = run_to_memory(agg, output_mode="append")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table(table).collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in q394_stream_session_append(spark, sf_dir).collect()
    }
    assert got == want


def test_panel_topk_arrow_equals_jvm_topk(spark, sf_dir):
    """The Arrow panel kernel + global window must select exactly the same
    (query, rank) -> neighbor assignments as the JVM-fold topk_cosine on
    the same panel: batch-local top-k is lossless for the global top-k,
    and both sides share the round-9/neighbor-id tie-break.  Neighbor IDS
    are compared (not cosines -- fold vs matmul differ in last-ulp
    association, which ranking absorbs but value equality would not)."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.operators.similarity import (
        panel_topk_arrow,
        topk_cosine,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") % 50 == 0).limit(20)
    panel = sorted(q.collect(), key=lambda r: r["vec_id"])
    p_ids = [r["vec_id"] for r in panel]
    p_mat = np.array([r["v"] for r in panel], dtype=np.float64)

    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id")
    )
    got = {
        (r["query_id"], r["rn"]): r["neighbor_id"]
        for r in panel_topk_arrow(e, "vec_id", "v", p_ids, p_mat, 5)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in topk_cosine(
            q, e, "vec_id", "v", "vec_id", "v", k=5
        ).collect()
    }
    assert got == want


def test_seq_dot_block_bitwise_equals_left_fold():
    """The Arrow pair kernel's k-loop accumulation must be BIT-IDENTICAL to
    the scalar left fold (the JVM aggregate/zip_with association and
    DuckDB's list_dot_product) -- this equality is what makes it legal in
    q65, whose OUTPUT contains the cosine value (matmul association would
    leak into values there, unlike the rank-only q386 family)."""
    import numpy as np

    from sparkstreaming_quickstart_spark.operators.similarity import (
        _seq_dot_block,
        _seq_self_dot,
    )

    rng = np.random.default_rng(7)
    A = rng.standard_normal((50, 64)) * rng.integers(1, 1000, (50, 1))
    B = rng.standard_normal((40, 64))

    def fold(x, y):
        acc = 0.0
        for k in range(len(x)):
            acc = acc + float(x[k]) * float(y[k])
        return acc

    got = _seq_dot_block(A, B)
    for i in range(0, 50, 7):
        for j in range(0, 40, 3):
            assert got[i, j] == fold(A[i], B[j])
    self_got = _seq_self_dot(A)
    for i in range(0, 50, 7):
        assert self_got[i] == fold(A[i], A[i])
