"""Wave 39 (round 11): the mutual-kNN scale path and IVF-layout
compositions.

- q387 IVF-probe -> ADC-shortlist -> exact-rerank retrieval pipeline: the
  round-10 verdict's optional #8, composing three proven pieces end to end
  -- q385's partition-pruned cell probe (candidate generation by directory
  listing), q161's product-quantization asymmetric-distance scoring
  (shortlist WITHOUT touching full vectors), and an exact-cosine rerank of
  the short list only (the "cross-encoder slot": the expensive exact model
  runs on C=10 candidates per query, not the corpus).
- q386 per-IVF-cell mutual-kNN graph: the round-10 verdict's #1 -- q329's
  GLOBAL-exact kernel collects the corpus to the driver and broadcasts it
  (now fenced ground-truth); this is the registered scale primary.  The
  corpus is quantized into ADAPTIVE IVF cells (round-12: nlist ~ sqrt(n)
  from the corpus count, formula centroids -- operators/similarity.py),
  and the SAME dense top-k kernel (`knn_edges_exact`) runs per cell via
  applyInPandas -- no driver collect, no corpus broadcast, one hash
  shuffle on cell, executor memory one ~sqrt(n)-row block at every
  decade.  Restricting candidates to a cell is the standard ANN-graph
  construction (FAISS/kNN-Descent seeding); every within-cell
  globally-mutual edge provably survives the restriction (restriction
  only improves a neighbor's rank -- tests/test_wave39.py pins the
  containment against q329's global edges).

Reference parity note: the reference computes none of this (its single
pipeline is Kafka->println, Processor.java:118-139); these are engine-surface
operators in the charter's LLM-data-pipeline families, value-oracled like the
rest of the registry.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import register

# ---------------------------------------------------------------------------
# q386: per-IVF-cell mutual-kNN graph (q329's scale primary)
# ---------------------------------------------------------------------------

_MK_K = 5  # top-k per point (matches q329)
_MK_DIM = 64


def _q386_oracle() -> str:
    from ..operators.similarity import (
        sql_adaptive_cell_cte,
        sql_adaptive_quantizer_ctes,
    )

    # Adaptive nlist (round 12): the cell count comes from COUNT(*) inside
    # the SQL itself (nl CTE) and the centroids from the integer formula
    # (cents CTE), so ONE static oracle string replays the quantizer at
    # every scale factor -- 16 cells at sf0.01, 32 at sf0.1, 128 at sf1,
    # 256 at sf10.  The per-cell top-k is a generic same-cell join (cells
    # shrink as sqrt(n), so the pair stream is n^1.5, not n^2/16).
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[{_MK_DIM}]) AS v,
               sqrt(array_inner_product(CAST(embedding AS DOUBLE[{_MK_DIM}]),
                                        CAST(embedding AS DOUBLE[{_MK_DIM}])))
                   AS nrm
        FROM embeddings),
    {sql_adaptive_quantizer_ctes(_MK_DIM, src="e")},
    valid AS (SELECT * FROM e WHERE nrm > 0),
    {sql_adaptive_cell_cte("valid", "vec_id, v, nrm", dim=_MK_DIM, materialized=True)},
    knn AS (
        SELECT i, j FROM (
            SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i
                       ORDER BY c DESC, j) AS rn
            FROM (
                SELECT a.vec_id AS i, b.vec_id AS j,
                       ROUND(array_inner_product(a.v, b.v)
                             / (a.nrm * b.nrm), 9) AS c
                FROM cells a JOIN cells b
                  ON a.cell = b.cell AND a.vec_id <> b.vec_id))
        WHERE rn <= {_MK_K}),
    mutual AS (
        SELECT k1.i, k1.j FROM knn k1 JOIN knn k2 ON k1.i = k2.j AND k1.j = k2.i),
    mdeg AS (
        SELECT v.vec_id, COUNT(m.j) AS md
        FROM valid v LEFT JOIN mutual m ON v.vec_id = m.i
        GROUP BY v.vec_id)
    SELECT CAST(md AS BIGINT) AS mutual_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM mdeg GROUP BY md ORDER BY mutual_degree
    """


@register(
    "q386_mutual_knn_ivf_cells",
    sql=_q386_oracle(),
    doc=f"Per-IVF-cell mutual-kNN graph (k={_MK_K}, cosine, ADAPTIVE cell "
    "count nlist = max(16, 2^floor(log2(n)/2)) ~ sqrt(n), round-12: the "
    "round-11 verdict's #1 -- a FIXED nlist puts corpus/16 in one "
    "executor's applyInPandas block at scale, so the cell count now "
    "derives from the corpus count on BOTH sides: the engine counts the "
    "table, the oracle computes the same rule from COUNT(*) in its nl "
    "CTE, and centroids come from a pure-integer Lehmer formula both "
    "engines evaluate bit-identically instead of pasted literals) -- "
    "q329's registered SCALE PRIMARY: the global-exact form collects "
    "and broadcasts the corpus by construction, so it is the fenced "
    "ground-truth twin, and graph construction here is cell-restricted "
    "like every production ANN-graph builder (FAISS IVF seeding, "
    "kNN-Descent initialization).  Plan: cell assignment is ONE "
    "vectorized Arrow matmul against the nlist x 64 centroid matrix "
    "(round-9 score then first-max argmax, the rank-before-round "
    "discipline -- robust to summation association, so no 256-literal "
    "fold expressions), then ONE hash shuffle of the corpus on cell "
    "(groupBy(cell).applyInPandas) runs the SAME dense knn_edges_exact "
    "kernel per cell -- executor memory is one ~sqrt(n)-row cell block "
    "at EVERY decade (16 cells at n=500, 128 at 20k, 256 at 200k), "
    "never the corpus; mutual filter and the degree histogram are "
    "hash-partitioned equi-joins on (i, j).  Semantics vs q329: "
    "candidates restricted to the point's own cell; every within-cell "
    "globally-mutual edge survives (restriction only improves ranks -- "
    "containment test pinned), cross-cell edges are the recall cost, "
    "measurable via q389.  The oracle replays the count rule, the "
    "formula centroids, the round-9 argmax assignment, and the per-cell "
    "exact top-k as one generic same-cell join (pair stream n^1.5, not "
    "n^2/nlist_fixed).",
)
def q386_mutual_knn_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        dot,
        knn_edges_exact,
        nlist_for,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # corpus count -> cell count (the FAISS nlist ~ sqrt(n) rule); the
    # count is a column-pruned metadata scan, the oracle's nl CTE mirrors it
    nlist = nlist_for(e.count())
    W = adaptive_centroids(_MK_DIM, nlist)
    valid = e.filter(F.sqrt(dot(F.col("v"), F.col("v"))) > 0)
    cells = assign_cells_arrow(valid, "v", W)

    def cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"i": pd.Series(dtype="int64"),
                                 "j": pd.Series(dtype="int64")})
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        order = np.argsort(ids)
        ids, mat = ids[order], mat[order]
        nrm = np.sqrt((mat * mat).sum(axis=1))
        out_i, out_j = knn_edges_exact(ids, mat, ids, mat, nrm, _MK_K)
        return pd.DataFrame(
            {"i": pd.Series(out_i, dtype="int64"),
             "j": pd.Series(out_j, dtype="int64")}
        )

    # persist: the mutual filter references the edge stream twice (forward +
    # reversed); without it the per-cell kernel -- the dominant cost -- runs
    # twice.  (The static plan audit still prints the kernel under both
    # references of the InMemoryRelation; execution computes it once.)
    knn = cells.groupBy("cell").applyInPandas(cell_knn, "i long, j long").persist()
    rev = knn.select(F.col("j").alias("i"), F.col("i").alias("j"))
    mutual = knn.join(rev, ["i", "j"])
    mdeg = (
        valid.select(F.col("vec_id"))
        .join(mutual.withColumnRenamed("i", "vec_id"), "vec_id", "left")
        .groupBy("vec_id")
        .agg(F.count("j").alias("md"))
    )
    return (
        mdeg.groupBy(F.col("md").cast("bigint").alias("mutual_degree"))
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("mutual_degree")
    )

# ---------------------------------------------------------------------------
# q387: IVF probe -> ADC shortlist -> exact rerank (retrieval pipeline)
# ---------------------------------------------------------------------------

_RR_M = 8  # PQ subspaces (q161 convention)
_RR_SUB = 8  # dims per subspace
_RR_C = 16  # codewords per subspace (first 16 corpus vectors)
_RR_SHORT = 10  # ADC shortlist size per query
_RR_K = 3  # final reranked top-k


def _q387_oracle() -> str:
    from .wave38 import _sql_ivf_probe_ctes

    # squared L2 between subvector m of two DOUBLE[] columns, m a column
    sq = " + ".join(
        f"((a[k.m * {_RR_SUB} + {d} + 1]) - (b[k.m * {_RR_SUB} + {d} + 1]))"
        f" * ((a[k.m * {_RR_SUB} + {d} + 1]) - (b[k.m * {_RR_SUB} + {d} + 1]))"
        for d in range(_RR_SUB)
    )
    code_sq = " + ".join(
        f"((cv[ms.m * {_RR_SUB} + {d} + 1]) - (vv[ms.m * {_RR_SUB} + {d} + 1]))"
        f" * ((cv[ms.m * {_RR_SUB} + {d} + 1]) - (vv[ms.m * {_RR_SUB} + {d} + 1]))"
        for d in range(_RR_SUB)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v FROM embeddings),
    {_sql_ivf_probe_ctes()},
    cb AS (SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < {_RR_C}),
    cand AS (
        SELECT p.query_id, p.qv, c.vec_id AS neighbor_id, c.v AS nv
        FROM probes p JOIN corpus c ON c.cell = p.cell
        WHERE c.vec_id <> p.query_id),
    ms AS (SELECT unnest(generate_series(0, {_RR_M - 1})) AS m),
    cdists AS (
        SELECT n.vec_id, ms.m, cb.c AS cw, {code_sq} AS dist
        FROM (SELECT DISTINCT neighbor_id AS vec_id, nv AS vv FROM cand) n,
             ms, cb),
    codes AS (
        SELECT vec_id, m, first(cw ORDER BY dist, cw) AS code
        FROM cdists GROUP BY vec_id, m),
    adc AS (
        SELECT t.query_id, t.neighbor_id, ROUND(SUM({sq}), 6) AS adc_dist
        FROM (SELECT query_id, neighbor_id, qv AS a FROM cand) t
        JOIN codes k ON k.vec_id = t.neighbor_id
        JOIN cb ON cb.c = k.code
        CROSS JOIN LATERAL (SELECT cb.cv AS b) lat
        GROUP BY t.query_id, t.neighbor_id),
    short AS (
        SELECT query_id, neighbor_id, adc_dist FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rs
            FROM adc) WHERE rs <= {_RR_SHORT}),
    rerank AS (
        SELECT s.query_id, s.neighbor_id, s.adc_dist,
               array_inner_product(c.qv, c.nv)
                 / (sqrt(array_inner_product(c.qv, c.qv))
                    * sqrt(array_inner_product(c.nv, c.nv))) AS cos
        FROM short s JOIN cand c
          ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id)
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
           ROUND(cos, 6) AS cos_sim, adc_dist
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id
              ORDER BY ROUND(cos, 9) DESC, neighbor_id) AS rank
          FROM rerank)
    WHERE rank <= {_RR_K}
    ORDER BY query_id, rank
    """


@register(
    "q387_ivf_adc_rerank",
    sql=_q387_oracle(),
    doc=f"IVF-probe -> PQ-ADC shortlist -> exact rerank: the full ANN "
    "retrieval pipeline as ONE registered query, composing the storage "
    "layout (q385's cell=<c>/ partition-pruned probe: candidates come "
    "from the query's top-2 centroid cells, chosen by directory listing "
    f"alone), compressed-domain scoring (q161's {_RR_M}x{_RR_C} product "
    "quantization: candidates are ranked by asymmetric distance against "
    "per-subspace codeword literals -- reading 8 small ints per "
    f"candidate, never the full vector), and an exact-cosine rerank of "
    f"only the top-{_RR_SHORT} shortlist per query (the cross-encoder "
    f"slot in a production retrieval stack), emitting top-{_RR_K}.  "
    "This is the query a RAG/retrieval service actually runs, and the "
    "layered cost model is the point at 100 TB: directory pruning cuts "
    "the scan to nprobe/nlist of the corpus, ADC cuts per-candidate "
    "bytes ~32x (codes vs vectors), and the exact kernel touches "
    "C=10 rows per query.  Plan: probe ranking is the q385 spelling; "
    "code assignment is q161's Arrow einsum kernel over the PRUNED "
    "scan only; ADC is a JVM fold over codeword array literals (no "
    "LUT collect -- the per-pair score indexes the codeword literal by "
    "the candidate's code via element_at); both windows are per-query "
    "top-k with the registry's rank-before-round tie-break discipline.  "
    "The oracle replays centroids, cell argmax, probe ranking, code "
    "argmin (first-min tie-break), ADC sum, and both rank stages.",
)
def q387_ivf_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    from ..operators.similarity import dot, probe_cells_arrow
    from .wave38 import _IVF_NPROBE, _IVF_QMOD, _ivf_layout

    part_dir, _nlist, W = _ivf_layout(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    q = (
        emb.filter(F.col("vec_id") % _IVF_QMOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    probes = probe_cells_arrow(q, "qv", W, _IVF_NPROBE)
    probed_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    corpus = spark.read.parquet(part_dir).filter(F.col("cell").isin(probed_cells))

    # PQ codebook: first _RR_C corpus vectors (bounded collect, q161's rule)
    cb_rows = (
        emb.filter(F.col("vec_id") < _RR_C)
        .select("vec_id", "embedding")
        .limit(_RR_C)
        .collect()
    )
    cb = np.array(
        [r["embedding"] for r in sorted(cb_rows, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )
    cbt = cb.reshape(_RR_C, _RR_M, _RR_SUB).transpose(1, 0, 2)  # (M, C, SUB)

    def assign_codes(batches):
        for pdf in batches:
            v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            v = v.reshape(len(pdf), _RR_M, _RR_SUB)
            diff = v[:, :, None, :] - cbt[None, :, :, :]
            dist = np.einsum("nmcd,nmcd->nmc", diff, diff)
            codes = dist.argmin(axis=2)  # first-min == oracle's (dist, cw)
            out = {
                "neighbor_id": pdf["vec_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
            }
            for m in range(_RR_M):
                out[f"code_{m}"] = codes[:, m].astype("int32")
            yield pd.DataFrame(out)

    codes_schema = "neighbor_id long, cell int, " + ", ".join(
        f"code_{m} int" for m in range(_RR_M)
    )
    codes = corpus.mapInPandas(assign_codes, codes_schema)

    # ADC score: per subspace, the codeword literal array indexed by the
    # candidate's code, folded against the query's subvector -- JVM-side,
    # no LUT materialization.
    cand = codes.join(probes, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = None
    for m in range(_RR_M):
        cw_arr = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in cbt[m, c]])
                for c in range(_RR_C)
            ]
        )
        cw = F.element_at(cw_arr, F.col(f"code_{m}") + 1)
        qsub = F.slice("qv", m * _RR_SUB + 1, _RR_SUB)
        term = F.aggregate(
            F.zip_with(qsub, cw, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        adc = term if adc is None else adc + term
    scored = cand.select(
        "query_id", "qv", "neighbor_id", F.round(adc, 6).alias("adc_dist")
    )
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("rs", F.row_number().over(short_w))
        .filter(F.col("rs") <= _RR_SHORT)
        .select("query_id", "qv", "neighbor_id", "adc_dist")
    )
    # exact rerank: join the shortlist (C rows per query) back to the pruned
    # layout for full vectors; broadcast the tiny shortlist side
    nv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    rer = F.broadcast(short).join(nv, "neighbor_id")
    cos = dot(F.col("qv"), F.col("nv")) / (
        F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("nv"), F.col("nv")))
    )
    rank_w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 9).desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= _RR_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.round("cos", 6).alias("cos_sim"),
            "adc_dist",
        )
        .orderBy("query_id", "rank")
    )

# ---------------------------------------------------------------------------
# q388: semantic dedup report over the IVF layout (q186 x q385 x documents)
# ---------------------------------------------------------------------------

_SD_T = 0.35  # q186's SemDeDup threshold


def _q388_oracle() -> str:
    from ..operators.similarity import (
        sql_adaptive_cell_cte,
        sql_adaptive_quantizer_ctes,
    )

    # adaptive nlist (round 12, same discipline as q386): generic same-cell
    # pair join instead of per-cell UNION branches -- the sqrt(n) cell rule
    # bounds the pair stream to n^1.5 at every decade
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[{_MK_DIM}]) AS v,
               sqrt(array_inner_product(CAST(embedding AS DOUBLE[{_MK_DIM}]),
                                        CAST(embedding AS DOUBLE[{_MK_DIM}])))
                   AS nrm
        FROM embeddings),
    {sql_adaptive_quantizer_ctes(_MK_DIM, src="e")},
    {sql_adaptive_cell_cte("e", "vec_id, v, nrm", dim=_MK_DIM, materialized=True)},
    dropped AS (
        SELECT DISTINCT y.vec_id
        FROM cells x JOIN cells y
          ON x.cell = y.cell AND x.vec_id < y.vec_id
        WHERE ROUND(array_inner_product(x.v, y.v)
                    / NULLIF(x.nrm * y.nrm, 0), 9) >= {_SD_T}),
    flagged AS (
        SELECT e.vec_id,
               (e.vec_id IN (SELECT vec_id FROM dropped)) AS is_dup
        FROM e)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE f.is_dup) AS BIGINT) AS n_dups,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
           CAST(SUM(d.n_chars) FILTER (WHERE NOT f.is_dup) AS BIGINT)
               AS chars_kept
    FROM flagged f JOIN documents d ON d.doc_id = f.vec_id
    GROUP BY d.source ORDER BY d.source
    """


@register(
    "q388_semdedup_ivf_report",
    sql=_q388_oracle(),
    doc=f"Semantic-dedup curation report over the IVF layout: q186's "
    "SemDeDup (greedy-by-id within-cluster cosine prune, threshold "
    f"{_SD_T}) run with clusters = the COMPUTED adaptive quantizer "
    "(q386's nlist ~ sqrt(n) rule + formula centroids, round-12) "
    "instead of the fixture's given labels, then joined documents-side "
    "to report, per source, the docs and characters a semantic dedup "
    "pass would keep -- the end-to-end loop from index layout to "
    "curation decision.  Only docs WITH an embedding row participate "
    "(inner join on doc_id = vec_id; at 100 TB the embedding table is "
    "the curated subset by construction).  Plan: one Arrow matmul for "
    "cell assignment, one corpus shuffle on cell for the dense per-cell "
    "prune kernel (executor memory = one ~sqrt(n)-row cell block at "
    "every decade, q186's kernel), one broadcast-able equi-join to "
    "documents, one hash-agg on source; the oracle replays the count "
    "rule, formula centroids, round-9 argmax cells, and the prune as a "
    "generic same-cell pair join.",
)
def q388_semdedup_ivf_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        nlist_for,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    W = adaptive_centroids(_MK_DIM, nlist_for(e.count()))
    cells = assign_cells_arrow(e, "v", W)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((v * v).sum(axis=1))
        nrm[nrm == 0.0] = np.nan  # zero vectors never match
        sims = np.round((v @ v.T) / np.outer(nrm, nrm), 9)
        n = len(pdf)
        mask = np.tril(np.ones((n, n), dtype=bool), k=-1)
        is_dup = np.nansum((sims >= _SD_T) & mask.T, axis=0) > 0
        return pd.DataFrame({"vec_id": pdf["vec_id"], "is_dup": is_dup})

    flagged = cells.groupBy("cell").applyInPandas(
        prune, "vec_id long, is_dup boolean"
    )
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source", "n_chars"
    )
    return (
        flagged.join(d, "vec_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_if("is_dup").cast("bigint").alias("n_dups"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            F.sum(F.when(~F.col("is_dup"), F.col("n_chars")))
            .cast("bigint")
            .alias("chars_kept"),
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# q389: cell-restriction recall -- q386's approximate edges vs q329's exact
# ---------------------------------------------------------------------------


def _q389_oracle() -> str:
    from ..operators.similarity import (
        sql_adaptive_cell_cte,
        sql_adaptive_quantizer_ctes,
    )
    from .wave23 import _KNN_BLOCK_SQL, _KNN_K

    # adaptive nlist (round 12): cell side uses q386's count-rule/formula
    # CTEs and a generic same-cell join; the exact side is unchanged
    cell_knn_sql = f"""
        SELECT i, j FROM (
            SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i
                       ORDER BY c DESC, j) AS rn
            FROM (
                SELECT a.vec_id AS i, b.vec_id AS j,
                       ROUND(list_dot_product(a.v, b.v)
                             / (a.nrm * b.nrm), 9) AS c
                FROM cells a JOIN cells b
                  ON a.cell = b.cell AND a.vec_id <> b.vec_id))
        WHERE rn <= {_MK_K}"""
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
    {sql_adaptive_quantizer_ctes(_MK_DIM, src="e")},
    valid AS (SELECT * FROM e WHERE nrm > 0),
    {sql_adaptive_cell_cte("valid", "vec_id, v, nrm", dim=_MK_DIM, materialized=True)},
    gcand AS ({_KNN_BLOCK_SQL.format(k=_KNN_K)}),
    granked AS (
        SELECT i, j, ROW_NUMBER() OVER (
            PARTITION BY i ORDER BY c DESC, j) AS rn FROM gcand),
    gknn AS MATERIALIZED (SELECT i, j FROM granked WHERE rn <= {_KNN_K}),
    gmutual AS MATERIALIZED (
        SELECT k1.i, k1.j FROM gknn k1 JOIN gknn k2
          ON k1.i = k2.j AND k1.j = k2.i),
    cknn AS MATERIALIZED ({cell_knn_sql}),
    cmutual AS MATERIALIZED (
        SELECT k1.i, k1.j FROM cknn k1 JOIN cknn k2
          ON k1.i = k2.j AND k1.j = k2.i),
    shared AS (
        SELECT g.i, g.j FROM gmutual g JOIN cmutual c
          ON g.i = c.i AND g.j = c.j),
    within AS (
        SELECT g.i, g.j FROM gmutual g
        JOIN cells c1 ON c1.vec_id = g.i
        JOIN cells c2 ON c2.vec_id = g.j
        WHERE c1.cell = c2.cell)
    -- one cross join of four 1-row aggregates, NOT scalar subqueries: a
    -- non-materialized CTE referenced from a scalar subquery is INLINED,
    -- so five subqueries re-evaluated the entire blocked kNN chain five
    -- times and the combined in-flight state exhausted the container's
    -- disk at sf1 (round-11 finding; MATERIALIZED + this shape fixes it)
    SELECT
        CAST(ge.n AS BIGINT) AS n_exact_edges,
        CAST(ce.n AS BIGINT) AS n_cell_edges,
        CAST(sh.n AS BIGINT) AS n_shared,
        CAST(wi.n AS BIGINT) AS n_within_cell,
        ROUND(CAST(sh.n AS DOUBLE) / NULLIF(ge.n, 0), 6) AS recall
    FROM (SELECT COUNT(*) AS n FROM gmutual) ge
    CROSS JOIN (SELECT COUNT(*) AS n FROM cmutual) ce
    CROSS JOIN (SELECT COUNT(*) AS n FROM shared) sh
    CROSS JOIN (SELECT COUNT(*) AS n FROM within) wi
    """


@register(
    "q389_knn_cell_recall",
    sql=_q389_oracle(),
    doc="Recall evaluation of the cell restriction: q386's per-IVF-cell "
    "mutual-kNN edges scored against q329's global-exact edges -- the "
    "fenced-twin pattern turned into a REGISTERED metric (q297 does "
    "this for LSH top-k retrieval; this is the graph-construction "
    "analogue).  Reports exact edge count, cell-restricted edge count, "
    "shared edges, how many exact edges were within-cell at all (the "
    "ceiling the containment theorem guarantees is met: n_shared >= "
    "n_within_cell is impossible below it), and edge recall.  Both "
    "sides run in BOTH engines: Spark computes the two edge streams "
    "with the shared knn_edges_exact kernel (broadcast global twin + "
    "per-cell primary), the oracle replays the blocked global SQL and "
    "the per-cell branch SQL.  Scale: the eval is run on samples in "
    "production (it needs the exact side); registering it keeps the "
    "recall measurable and regression-pinned as parameters change.",
    scale_class="ground-truth",
)
def q389_knn_cell_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        dot,
        knn_edges_exact,
        nlist_for,
    )
    from .wave23 import q329_mutual_knn_graph  # noqa: F401 (doc cross-ref)

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    W = adaptive_centroids(_MK_DIM, nlist_for(e.count()))
    valid = e.filter(F.sqrt(dot(F.col("v"), F.col("v"))) > 0)
    cells = assign_cells_arrow(valid, "v", W)

    # global exact side (the fenced-twin kernel: bounded broadcast)
    rows = valid.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    nrm = np.sqrt((mat * mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, mat, nrm))

    def gknn_batches(it):
        b_ids, b_mat, b_nrm = bc.value
        for pdf in it:
            sub = pdf[np.isin(pdf["vec_id"].to_numpy(), b_ids)]
            if len(sub) == 0:
                continue
            q = np.stack(sub["v"].to_numpy()).astype(np.float64)
            oi, oj = knn_edges_exact(
                sub["vec_id"].to_numpy(), q, b_ids, b_mat, b_nrm, _MK_K
            )
            yield pd.DataFrame({"i": oi, "j": oj})

    gknn = valid.mapInPandas(gknn_batches, "i long, j long").persist()
    gmutual = gknn.join(
        gknn.select(F.col("j").alias("i"), F.col("i").alias("j")), ["i", "j"]
    ).persist()

    def cell_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"i": pd.Series(dtype="int64"), "j": pd.Series(dtype="int64")}
            )
        cid = pdf["vec_id"].to_numpy().astype(np.int64)
        cmat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        o = np.argsort(cid)
        cid, cmat = cid[o], cmat[o]
        cn = np.sqrt((cmat * cmat).sum(axis=1))
        oi, oj = knn_edges_exact(cid, cmat, cid, cmat, cn, _MK_K)
        return pd.DataFrame(
            {"i": pd.Series(oi, dtype="int64"), "j": pd.Series(oj, dtype="int64")}
        )

    cknn = cells.groupBy("cell").applyInPandas(cell_knn, "i long, j long").persist()
    cmutual = cknn.join(
        cknn.select(F.col("j").alias("i"), F.col("i").alias("j")), ["i", "j"]
    ).persist()

    shared = gmutual.join(cmutual, ["i", "j"])
    c1 = cells.select(F.col("vec_id").alias("i"), F.col("cell").alias("cell_i"))
    c2 = cells.select(F.col("vec_id").alias("j"), F.col("cell").alias("cell_j"))
    within = (
        gmutual.join(c1, "i").join(c2, "j").filter(F.col("cell_i") == F.col("cell_j"))
    )
    n_exact = gmutual.count()
    n_cell = cmutual.count()
    n_shared = shared.count()
    n_within = within.count()
    # half-away-from-zero at 6 digits, matching DuckDB ROUND (Python round()
    # is banker's: an exactly-representable half like 1/128 -> 0.0078125
    # would round to ...812 here but ...813 in the oracle); the ratio is
    # nonnegative so floor(x*1e6 + 0.5) is exactly half-away.
    recall = math.floor(n_shared / n_exact * 1e6 + 0.5) / 1e6 if n_exact else None
    return spark.createDataFrame(
        [(n_exact, n_cell, n_shared, n_within, recall)],
        "n_exact_edges bigint, n_cell_edges bigint, n_shared bigint, "
        "n_within_cell bigint, recall double",
    )


# ---------------------------------------------------------------------------
# q390: IVF cell-balance report (quantizer health)
# ---------------------------------------------------------------------------


def _q390_oracle() -> str:
    from ..operators.similarity import (
        sql_adaptive_cell_cte,
        sql_adaptive_quantizer_ctes,
    )

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {sql_adaptive_quantizer_ctes(_MK_DIM, src="e")},
    {sql_adaptive_cell_cte("e", "vec_id", dim=_MK_DIM)},
    counts AS (
        SELECT g.cell, COUNT(c.vec_id) AS n
        FROM (SELECT j AS cell FROM range(65536) t(j)
              WHERE j < (SELECT nlist FROM nl)) g
        LEFT JOIN cells c ON c.cell = g.cell GROUP BY g.cell),
    stats AS (
        SELECT SUM(n) AS total, MAX(n) AS mx,
               SUM(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS n_empty,
               SUM(n * n) AS sq, COUNT(*) AS nlist
        FROM counts)
    SELECT CAST(c.cell AS INT) AS cell,
           CAST(c.n AS BIGINT) AS n_vectors,
           ROUND(CAST(c.n AS DOUBLE) * s.nlist / s.total, 6)
               AS load_factor,
           ROUND(CAST(s.mx AS DOUBLE) * s.nlist / s.total, 6)
               AS imbalance_factor,
           CAST(s.n_empty AS BIGINT) AS n_empty_cells,
           ROUND(CAST(s.sq AS DOUBLE) * s.nlist
                 / (CAST(s.total AS DOUBLE) * s.total), 6)
               AS expected_probe_blowup
    FROM counts c CROSS JOIN stats s
    ORDER BY c.cell
    """


@register(
    "q390_ivf_cell_balance",
    sql=_q390_oracle(),
    doc="IVF quantizer health report over the ADAPTIVE layout (round-12: "
    "nlist ~ sqrt(n), q386's count rule + formula centroids): per-cell "
    "population with load factor (n_cell * nlist / n), plus the "
    "three whole-index diagnostics every ANN operator watches -- "
    "imbalance factor (max load; FAISS's metric: the hot shard that "
    "bounds probe latency), empty-cell count (wasted directory "
    "entries), and expected probe blowup E[cell size of a random "
    "vector] * nlist / n = nlist * sum(n_c^2) / n^2 (1.0 = perfectly "
    "balanced; it is the factor by which a single-probe query touches "
    "more data than n/nlist).  These numbers decide when to retrain "
    "the quantizer or split cells at 100 TB -- the operational metric "
    "for q385/q386/q387's shared layout.  Plan: one Arrow-matmul "
    "assignment scan, one hash-agg on cell, a broadcast join to the "
    "nlist-row cell spine (empty cells must appear), one 1-row stats "
    "cross join.",
)
def q390_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        nlist_for,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nlist = nlist_for(e.count())
    W = adaptive_centroids(_MK_DIM, nlist)
    cells = assign_cells_arrow(e, "v", W).select("cell")
    spine = spark.range(0, nlist).select(F.col("id").cast("int").alias("cell"))
    counts = (
        spine.join(cells.groupBy("cell").agg(F.count("*").alias("n0")), "cell", "left")
        .select("cell", F.coalesce("n0", F.lit(0)).alias("n"))
    )
    stats = counts.agg(
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
        F.count_if(F.col("n") == 0).alias("n_empty"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.round(F.col("n").cast("double") * nlist / F.col("total"), 6)
            .alias("load_factor"),
            F.round(F.col("mx").cast("double") * nlist / F.col("total"), 6)
            .alias("imbalance_factor"),
            F.col("n_empty").cast("bigint").alias("n_empty_cells"),
            F.round(
                F.col("sq").cast("double") * nlist
                / (F.col("total").cast("double") * F.col("total")),
                6,
            ).alias("expected_probe_blowup"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# q391: PQ codebook distortion report (per-subspace quantization error)
# ---------------------------------------------------------------------------


def _q391_oracle() -> str:
    sq = " + ".join(
        f"((vv[ms.m * {_RR_SUB} + {d} + 1]) - (cv[ms.m * {_RR_SUB} + {d} + 1]))"
        f" * ((vv[ms.m * {_RR_SUB} + {d} + 1]) - (cv[ms.m * {_RR_SUB} + {d} + 1]))"
        for d in range(_RR_SUB)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    cb AS (SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < {_RR_C}),
    ms AS (SELECT unnest(generate_series(0, {_RR_M - 1})) AS m),
    dists AS (
        SELECT v.vec_id, ms.m, cb.c, {sq} AS dist
        FROM v, ms, cb),
    best AS (
        SELECT vec_id, m, MIN(dist) AS qerr
        FROM dists GROUP BY vec_id, m)
    SELECT CAST(m AS INT) AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(qerr), 6) AS avg_sq_err,
           ROUND(MAX(qerr), 6) AS max_sq_err
    FROM best GROUP BY m ORDER BY subspace
    """


@register(
    "q391_pq_distortion",
    sql=_q391_oracle(),
    doc=f"Product-quantization distortion report for q161/q387's codebook "
    f"({_RR_M} subspaces x {_RR_C} codewords): per-subspace average and "
    "max squared quantization error (distance from each vector's "
    "subvector to its NEAREST codeword -- min over the codebook, so the "
    "metric is assignment-independent and tie-safe).  This is the "
    "number that validates an ANN index build: rising avg_sq_err in one "
    "subspace means that subspace's codewords no longer cover the data "
    "(retrain trigger), and the per-subspace profile decides codeword "
    "budget allocation.  Plan: the Arrow kernel computes each row's "
    f"{_RR_M}x{_RR_C} distance block and emits only (m, min) pairs -- "
    "one scan, one narrow kernel, one {_RR_M}-group hash-agg; the "
    "16-row codebook is the only collect (q161's bounded rule).",
)
def q391_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    cb_rows = (
        emb.filter(F.col("vec_id") < _RR_C)
        .select("vec_id", "embedding")
        .limit(_RR_C)
        .collect()
    )
    cb = np.array(
        [r["embedding"] for r in sorted(cb_rows, key=lambda r: r["vec_id"])],
        dtype=np.float64,
    )
    cbt = cb.reshape(_RR_C, _RR_M, _RR_SUB).transpose(1, 0, 2)  # (M, C, SUB)

    def qerr(batches):
        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            v = v.reshape(len(pdf), _RR_M, _RR_SUB)
            diff = v[:, :, None, :] - cbt[None, :, :, :]
            dist = np.einsum("nmcd,nmcd->nmc", diff, diff)
            best = dist.min(axis=2)  # (N, M)
            n, m = best.shape
            yield pd.DataFrame(
                {
                    "subspace": np.tile(np.arange(m, dtype=np.int32), n),
                    "qerr": best.ravel(),
                }
            )

    per = emb.select("embedding").mapInPandas(qerr, "subspace int, qerr double")
    return (
        per.groupBy("subspace")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.avg("qerr"), 6).alias("avg_sq_err"),
            F.round(F.max("qerr"), 6).alias("max_sq_err"),
        )
        .orderBy("subspace")
    )

# ---------------------------------------------------------------------------
# q392: streaming IVF cell-balance monitor (q390's streaming twin)
# ---------------------------------------------------------------------------


@register(
    "q392_stream_ivf_cell_monitor",
    sql=_q390_oracle(),
    doc="STREAMING IVF cell-balance monitor -- q390 as a continuous "
    "aggregation, value-locked to the SAME oracle (the q380/q383 twin "
    "discipline): embeddings replay as a file stream, each vector is "
    "quantized to its seeded-centroid cell with the same JVM fold "
    "expressions (stateless per row, so the quantizer runs inside the "
    "stream with no Python boundary), and a complete-mode streaming "
    "count per cell feeds the final spine-joined health report "
    "(load/imbalance factors, empty cells, expected probe blowup).  "
    "This is the monitor a vector-ingest pipeline runs NEXT TO the "
    "index: drifting imbalance on the live stream is the retrain "
    "trigger BEFORE probe latency degrades.  State is one count per "
    "cell (bounded by nlist); the drain is the memory-sink harness "
    "(production: foreachBatch upsert).  The final snapshot equals the "
    "batch computation exactly -- counts are associative -- which is "
    "what the shared value oracle proves.",
)
def q392_stream_ivf_cell_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        nlist_for,
    )
    from ..streaming.pipeline import run_to_memory
    from ..streaming.source import table_stream

    # the monitor's quantizer is SIZED BY THE INDEXED CORPUS (the batch
    # table the index was built from), not by the stream -- production
    # semantics: nlist is fixed at index build time, the live stream is
    # scored against that layout; the Arrow kernel runs stateless inside
    # the stream (mapInPandas is streaming-legal)
    nlist = nlist_for(load_table(spark, sf_dir, "embeddings").count())
    W = adaptive_centroids(_MK_DIM, nlist)
    stream = table_stream(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cells = assign_cells_arrow(stream, "v", W).select("cell")
    counts_stream = cells.groupBy("cell").agg(F.count("*").alias("n0"))
    table = run_to_memory(counts_stream, output_mode="complete")
    spine = spark.range(0, nlist).select(
        F.col("id").cast("int").alias("cell")
    )
    counts = spine.join(spark.table(table), "cell", "left").select(
        "cell", F.coalesce("n0", F.lit(0)).alias("n")
    )
    stats = counts.agg(
        F.sum("n").alias("total"),
        F.max("n").alias("mx"),
        F.count_if(F.col("n") == 0).alias("n_empty"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.round(F.col("n").cast("double") * nlist / F.col("total"), 6)
            .alias("load_factor"),
            F.round(F.col("mx").cast("double") * nlist / F.col("total"), 6)
            .alias("imbalance_factor"),
            F.col("n_empty").cast("bigint").alias("n_empty_cells"),
            F.round(
                F.col("sq").cast("double") * nlist
                / (F.col("total").cast("double") * F.col("total")),
                6,
            ).alias("expected_probe_blowup"),
        )
        .orderBy("cell")
    )
