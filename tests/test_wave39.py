"""Wave-39 tests: per-IVF-cell mutual-kNN (q386).

Pins the three properties the q329->q386 promotion rides on: the shared
dense kernel is bit-identical to its pre-factoring formula, the per-cell
output value-matches the DuckDB oracle, and the cell restriction provably
CONTAINS every within-cell globally-mutual edge (restricting candidates
can only improve a neighbor's rank)."""

from __future__ import annotations

import numpy as np


def test_knn_edges_exact_matches_naive_formula():
    """The factored kernel (operators/similarity.knn_edges_exact) must be
    bit-identical to the naive full-lexsort spelling it replaced -- the
    same regression discipline as the round-10 minhash kernel pin."""
    from sparkstreaming_quickstart_spark.operators.similarity import (
        knn_edges_exact,
    )

    rng = np.random.RandomState(11)
    n, d, k = 200, 8, 5
    ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    mat = rng.standard_normal((n, d))
    # quantize so 9-digit rounding produces REAL ties, exercising the
    # widened argpartition preselect
    mat = np.round(mat, 1)
    nrm = np.sqrt((mat * mat).sum(axis=1))

    got_i, got_j = knn_edges_exact(ids, mat, ids, mat, nrm, k)

    # naive reference: full lexsort per row
    qn = np.sqrt((mat * mat).sum(axis=1))[:, None]
    sims = np.round((mat @ mat.T) / (qn * nrm[None, :]), 9)
    exp = []
    for row, qid in zip(sims, ids):
        row = row.copy()
        row[ids == qid] = -np.inf
        order = np.lexsort((ids, -row))[:k]
        exp.extend((int(qid), int(ids[o])) for o in order)
    assert list(zip(got_i, got_j)) == exp


def test_q386_matches_oracle(spark, sf_dir):
    from sparkstreaming_quickstart_spark.oracle import compare
    from sparkstreaming_quickstart_spark.queries import oracle_sql
    from sparkstreaming_quickstart_spark.queries.wave39 import (
        q386_mutual_knn_ivf_cells,
    )

    res = compare(
        spark, sf_dir, q386_mutual_knn_ivf_cells,
        oracle_sql()["q386_mutual_knn_ivf_cells"],
    )
    assert res["ok"], res


def test_cell_restriction_contains_within_cell_global_mutual_edges(spark, sf_dir):
    """If (i, j) is a GLOBAL mutual-kNN edge and i, j share a cell, then
    (i, j) must appear in q386's per-cell mutual edges: restricting the
    candidate set to the cell removes competitors only, so j's rank for i
    within the cell is <= its global rank (and symmetrically).  Cross-cell
    edges are the documented recall cost; within-cell edges may NOT be
    lost."""
    import duckdb

    from sparkstreaming_quickstart_spark.operators.similarity import (
        sql_adaptive_cell_cte,
        sql_adaptive_quantizer_ctes,
    )
    from sparkstreaming_quickstart_spark.queries.wave23 import (
        _KNN_BLOCK_SQL,
        _KNN_K,
    )
    from sparkstreaming_quickstart_spark.queries.wave39 import _MK_DIM

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    base = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
    {sql_adaptive_quantizer_ctes(_MK_DIM, src="e")},
    valid AS (SELECT * FROM e WHERE nrm > 0),
    cand AS ({_KNN_BLOCK_SQL.format(k=_KNN_K)}),
    ranked AS (
        SELECT i, j, ROW_NUMBER() OVER (
            PARTITION BY i ORDER BY c DESC, j) AS rn FROM cand),
    knn AS (SELECT i, j FROM ranked WHERE rn <= {_KNN_K}),
    mutual AS (
        SELECT k1.i, k1.j FROM knn k1 JOIN knn k2
          ON k1.i = k2.j AND k1.j = k2.i),
    {sql_adaptive_cell_cte("valid", "vec_id")}
    SELECT m.i, m.j FROM mutual m
    JOIN cells c1 ON c1.vec_id = m.i
    JOIN cells c2 ON c2.vec_id = m.j
    WHERE c1.cell = c2.cell
    """
    within_cell_global = set(map(tuple, con.execute(base).fetchall()))
    assert within_cell_global, "fixture should have within-cell mutual edges"

    # per-cell mutual edges from the Spark primary's building blocks
    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.operators.similarity import dot
    from sparkstreaming_quickstart_spark.queries.wave39 import (
        q386_mutual_knn_ivf_cells,  # noqa: F401  (import keeps module loaded)
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    # rebuild the knn+mutual edge stream exactly as q386 does internally
    import pandas as pd

    from sparkstreaming_quickstart_spark.operators.similarity import (
        knn_edges_exact,
    )
    from sparkstreaming_quickstart_spark.queries.wave39 import _MK_K

    from sparkstreaming_quickstart_spark.operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        nlist_for,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    W = adaptive_centroids(_MK_DIM, nlist_for(e.count()))
    valid = e.filter(F.sqrt(dot(F.col("v"), F.col("v"))) > 0)
    cells_df = assign_cells_arrow(valid, "v", W)

    def cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"i": pd.Series(dtype="int64"), "j": pd.Series(dtype="int64")}
            )
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        nrm = np.sqrt((mat * mat).sum(axis=1))
        oi, oj = knn_edges_exact(ids, mat, ids, mat, nrm, _MK_K)
        return pd.DataFrame(
            {"i": pd.Series(oi, dtype="int64"), "j": pd.Series(oj, dtype="int64")}
        )

    knn = cells_df.groupBy("cell").applyInPandas(cell_knn, "i long, j long")
    rev = knn.select(F.col("j").alias("i"), F.col("i").alias("j"))
    per_cell_mutual = {
        (r["i"], r["j"]) for r in knn.join(rev, ["i", "j"]).collect()
    }
    missing = within_cell_global - per_cell_mutual
    assert not missing, (
        f"{len(missing)} within-cell globally-mutual edges lost by the "
        f"cell restriction (e.g. {sorted(missing)[:5]})"
    )


def test_q387_layout_scan_is_partition_pruned(spark, sf_dir):
    """q387 inherits q385's storage contract: the candidate scan over the
    cell-partitioned layout must consume the probed-cell list as a
    PartitionFilter (directory pruning), never a data filter on the
    partition column."""
    import re

    from sparkstreaming_quickstart_spark.queries.wave39 import q387_ivf_adc_rerank

    out = q387_ivf_adc_rerank(spark, sf_dir)
    rows = out.collect()
    assert rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    layout = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "ssq-emb-ivf-" in l
    ]
    assert layout, plan
    for line in layout:
        m = re.search(r"PartitionFilters: \[([^\]]*)", line)
        assert m and "cell" in m.group(1), line
        dm = re.search(r"DataFilters: \[([^\]]*)", line)
        assert dm and "cell" not in dm.group(1), line
    # output invariants: <= K rows per query, ranks contiguous from 1,
    # cosine non-increasing in rank within each query (at oracle rounding)
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r["query_id"]].append(r)
    for qid, rs in per.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        coss = [round(r["cos_sim"], 6) for r in rs]
        assert all(a >= b for a, b in zip(coss, coss[1:])), (qid, coss)


def test_q388_semdedup_report_invariants(spark, sf_dir):
    """Structural invariants of the per-source curation report: dups are a
    strict subset, kept chars bound total chars, and the totals equal the
    documents-with-embeddings join cardinality."""
    import duckdb

    from sparkstreaming_quickstart_spark.queries.wave39 import (
        q388_semdedup_ivf_report,
    )

    rows = q388_semdedup_ivf_report(spark, sf_dir).collect()
    assert rows
    total_docs = sum(r["n_docs"] for r in rows)
    want = (
        duckdb.connect()
        .execute(
            f"SELECT count(*) FROM '{sf_dir}/documents.parquet' d "
            f"JOIN '{sf_dir}/embeddings.parquet' e ON d.doc_id = e.vec_id"
        )
        .fetchone()[0]
    )
    assert total_docs == want
    for r in rows:
        assert 0 <= r["n_dups"] <= r["n_docs"]
        kept = r["chars_kept"] if r["chars_kept"] is not None else 0
        assert 0 <= kept <= r["chars_total"]
        if r["n_dups"] == 0:
            assert kept == r["chars_total"]


def test_q392_stream_monitor_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """q392's complete-mode counts must equal the batch computation (q390's
    values) under a FORCED multi-batch replay -- counts are associative, so
    the final snapshot is split-independent.  Mirrors q372's discipline."""

    import pandas as pd
    from pyspark.sql import functions as F

    from sparkstreaming_quickstart_spark.operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        nlist_for,
    )
    from sparkstreaming_quickstart_spark.queries.wave39 import (
        _MK_DIM,
        q390_ivf_cell_balance,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    src = load_table(spark, sf_dir, "embeddings")
    splitdir = str(tmp_path)
    src.repartition(3).write.mode("overwrite").parquet(splitdir)

    W = adaptive_centroids(_MK_DIM, nlist_for(src.count()))
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitdir)
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    )
    cells = assign_cells_arrow(stream, "v", W).select("cell")
    table = run_to_memory(
        cells.groupBy("cell").agg(F.count("*").alias("n0")),
        output_mode="complete",
    )
    got = {
        r["cell"]: r["n0"] for r in spark.table(table).collect()
    }
    want = {
        r["cell"]: r["n_vectors"]
        for r in q390_ivf_cell_balance(spark, sf_dir).collect()
        if r["n_vectors"] > 0
    }
    assert got == want
