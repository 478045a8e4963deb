"""Embedding similarity search: exact top-k cosine + LSH-bucketed ANN.

Exact path (`topk_cosine`): normalize-free cosine via higher-order array
functions -- dot and norms are sequential double folds (zip_with + aggregate),
JVM-side, bitwise-reproducible.  The query set joins against the full corpus;
with a small query set Catalyst broadcasts it, so the corpus scan is
shuffle-free and the only shuffle is the per-query top-k (row_number window
over query_id).

ANN path (`ann_lsh_topk`): random-hyperplane LSH.  Hyperplanes come from a
seeded numpy RandomState and are shipped as literal arrays (they're tiny:
nbits x dim doubles).  Bucket = sign-bit string of hyperplane dots; candidates
only join within a bucket -- at 100 TB this turns the O(Q x N) cross join into
O(Q x N / 2^nbits) per-bucket work, trading recall for throughput.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """sqrt(|a|^2), for precomputing one norm per vector before a pair join.

    Pair scoring then costs one fold (the cross dot) instead of three;
    `dot(a,b) / (norm(a) * norm(b))` must be mirrored exactly (same float
    association: sqrt each side, then multiply) in any oracle SQL.
    """
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, null on a zero-norm side (same float association as
    the pair-join form: sqrt each side, then multiply).  Inside the operators
    the norms are precomputed per side instead of re-folded per pair."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _pair_cosine(dot_col: Column, n1: Column, n2: Column, digits: int) -> Column:
    """Scoring expression shared by every pair join: try_divide nulls out
    zero-norm vectors (a padded/failed-encode embedding is legal input) where
    plain division would abort the query under Spark 4's ANSI mode; null
    scores then fail threshold filters and sort last in top-k rankings."""
    return F.round(F.try_divide(dot_col, n1 * n2), digits)


def topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 5,
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors per query (self excluded).

    Returns (query_id, neighbor_id, cos_sim, rank); cosine rounded to 9
    digits so the value is float-discrepancy-proof against the oracle.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        norm(F.col(query_vec)).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
        norm(F.col(corpus_vec)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine(dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"), 9).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize vectors to their nearest centroid cell,
    then rank exactly within the query's cell.

    Centroids here are seeded random unit-ish vectors (deterministic without
    a training pass); a production deployment would k-means them.  The plan
    shape is the important part: cell assignment is a per-row argmax over a
    broadcast centroid array (no shuffle), and the candidate join is
    equi-join on cell_id -- at 100 TB each query touches 1/n_cells of the
    corpus instead of all of it.
    """
    from pyspark.sql import Window

    planes = ivf_centroids(dim, n_cells)
    cents = [F.array(*[F.lit(float(v)) for v in row]) for row in planes]

    def cell(vec: Column) -> Column:
        # argmax over centroid dot products, deterministic tie-break by index
        scores = F.array(*[dot(vec, c) for c in cents])
        return F.array_position(scores, F.array_max(scores)).cast("int")

    q = (
        queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv"), norm(F.col(query_vec)).alias("qn")
        )
        .withColumn("cell", cell(F.col("qv")))
    )
    c = (
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv"), norm(F.col(corpus_vec)).alias("cn")
        )
        .withColumn("cell", cell(F.col("cv")))
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine(dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"), 9).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def embedding_cosine_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    prefilter_bits: int = 0,
    dim: int | None = None,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity (id1 < id2).

    The filter runs on the cosine *rounded* to 9 digits so Spark/oracle float
    noise at the threshold boundary cannot flip membership.  With
    ``prefilter_bits == 0`` this is the exact all-pairs formulation (O(n^2)
    candidate space -- fine at test scale, and the oracle-checkable ground
    truth).  With ``prefilter_bits > 0`` candidates are restricted to pairs
    sharing a random-hyperplane LSH bucket before the exact cosine verify --
    the 100 TB path: the self-join becomes an equi-join on bucket, so each
    vector is compared against ~n/2^bits others instead of all n, at the
    cost of recall for pairs straddling a hyperplane.
    """
    if planes is not None:
        prefilter_bits = len(planes)
    if prefilter_bits > 0:
        if dim is None:
            raise ValueError("dim is required when prefilter_bits > 0")
        # bucketed path: per-bucket Arrow kernel instead of a pair join +
        # per-pair JVM fold (round 12: q65's sf1 spark side 189 s -> ~15 s).
        # The kernel's fold-association vector ops are BIT-IDENTICAL to the
        # fold spelling (pinned), so the emitted cosine VALUES -- which are
        # part of this operator's output, unlike the rank-only q386 family
        # -- are unchanged; the bucket bits themselves stay JVM expressions
        # (they must mirror the oracle's sql_adaptive_bucket_cte exactly).
        b = bucketize(
            corpus.select(
                F.col(id_col).alias("bid"), F.col(vec_col).alias("bv")
            ),
            "bv",
            dim,
            prefilter_bits,
            planes,
        ).select("bid", F.col("bv").cast("array<double>").alias("bv"), "bucket")
        return bucketed_cosine_pairs_arrow(b, "bid", "bv", threshold)
    # exact path: blocked upper-triangle Arrow kernel (round 13) -- the old
    # theta-join spelling planned as a BroadcastNestedLoopJoin whose ~n^2/2
    # interpreted folds all ran on ONE task (59 s at sf0.1); the kernel
    # computes the identical rounded values (same fold association, same
    # half-away rounding -- pinned old-vs-new in tests/test_wave43.py) in
    # B(B+1)/2 parallel block tasks.
    return all_pairs_cosine_arrow(corpus, id_col, vec_col, threshold)


def knn_edges_exact(q_ids, q_mat, b_ids, b_mat, b_nrm, k: int):
    """Exact top-k cosine kNN edges from each query row to a candidate block
    -- the shared dense kernel behind q329 (queries vs broadcast corpus) and
    q386 (cell vs same cell): cosine = dot / (na * nb) on RAW vectors (the
    DuckDB-oracle float association order), ROUND to 9 BEFORE ranking,
    self-match masked, tie-break on candidate id (rank-before-round
    discipline).  Top-k per row via an O(n) argpartition preselect WIDENED to
    every candidate tied with the k-th value (9-digit rounding makes ties
    real), then an exact lexsort over that small set -- bit-identical to a
    full lexsort, ~5x cheaper per row at n=20k.  Returns (i_list, j_list).
    """
    qn = np.sqrt((q_mat * q_mat).sum(axis=1))[:, None]
    sims = np.round((q_mat @ b_mat.T) / (qn * b_nrm[None, :]), 9)
    out_i: list[int] = []
    out_j: list[int] = []
    n = sims.shape[1]
    kk = min(k, max(n - 1, 1))
    for row, qid in zip(sims, q_ids):
        self_mask = b_ids == qid
        row = row.copy()
        row[self_mask] = -np.inf
        if n > kk:
            kth = np.partition(row, n - kk)[n - kk]
            cand = np.flatnonzero(row >= kth)
        else:
            cand = np.arange(n)
        order = np.lexsort((b_ids[cand], -row[cand]))[:k]
        idx = cand[order]
        out_i.extend([int(qid)] * len(idx))
        out_j.extend(b_ids[idx].tolist())
    return out_i, out_j


def _hyperplanes(dim: int, nbits: int) -> np.ndarray:
    return np.random.RandomState(42).standard_normal((nbits, dim))


def ivf_centroids(dim: int, n_cells: int) -> np.ndarray:
    """The seeded centroid matrix `ivf_topk` quantizes against (shared with
    the oracle-SQL generators so both engines see identical literals)."""
    return np.random.RandomState(7).standard_normal((n_cells, dim))


def sql_vec(row) -> str:
    """A numpy row as a DuckDB DOUBLE[] literal.  repr() emits the shortest
    round-trip decimal, which DuckDB parses back to the identical double, so
    Spark (literal via py4j) and DuckDB (literal via SQL text) compute on
    bitwise-equal constants -- probed: cell/bucket assignments match exactly
    at sf0.01."""
    return "[" + ", ".join(repr(float(x)) for x in row) + "]"


def sql_cell_expr(planes: np.ndarray) -> str:
    """DuckDB mirror of `ivf_topk`'s argmax cell assignment over a vector
    column `v` (first max wins in both list_position and array_position)."""
    scores = ", ".join(f"list_dot_product(v, {sql_vec(r)})" for r in planes)
    return f"CAST(list_position([{scores}], list_max([{scores}])) AS INT)"


def bucketize(
    df: DataFrame,
    vec: str,
    dim: int,
    nbits: int = 8,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Append an LSH bucket id: sign bits of `nbits` hyperplane projections.
    Pass `planes` explicitly (e.g. adaptive_hyperplanes) to override the
    seeded-Gaussian default; the sign bits stay JVM fold expressions either
    way so they mirror the oracle's fold dot exactly."""
    if planes is None:
        planes = _hyperplanes(dim, nbits)
    plane_cols = [F.array(*[F.lit(float(v)) for v in row]) for row in planes]
    bucket = sum(
        [
            F.when(dot(F.col(vec), p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i, p in enumerate(plane_cols)
        ],
        F.lit(0),
    )
    return df.withColumn("bucket", bucket.cast("int"))


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    dim: int,
    k: int = 5,
    nbits: int = 8,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to same-LSH-bucket
    candidates.  Deterministic (seeded or formula hyperplanes); recall < 1
    by design."""
    from pyspark.sql import Window

    q = bucketize(
        queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv"), norm(F.col(query_vec)).alias("qn")
        ),
        "qv",
        dim,
        nbits,
        planes,
    )
    c = bucketize(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv"), norm(F.col(corpus_vec)).alias("cn")
        ),
        "cv",
        dim,
        nbits,
        planes,
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine(dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"), 9).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Adaptive-nlist IVF quantizer (round 12): cells derived from corpus count
# ---------------------------------------------------------------------------
#
# The fixed-16-cell layout matched the fixtures but breaks the 100 TB story:
# a constant nlist means one cell grows linearly with the corpus, and the
# per-cell kernels (q386's mutual-kNN block, q388's SemDeDup prune) get the
# corpus/16 in a single executor's applyInPandas block -- the exact failure
# the cell restriction exists to remove.  This family derives
# nlist = max(16, 2^floor(log2(n)/2))  (the largest power of two <= sqrt(n),
# FAISS's nlist ~ sqrt(n) discipline), so a cell holds ~sqrt(n) vectors at
# every decade: 16 cells at n=500, 32 at 2k, 128 at 20k, 256 at 200k, ~16k
# at 100 TB-scale corpora.
#
# Centroids can no longer be seeded-numpy literals pasted into the oracle
# (the literal list would have to change size with the data), so they come
# from a PURE-INTEGER formula both engines evaluate bit-identically from
# scratch: component k of centroid j is three Lehmer/LCG steps (one of them
# a squaring, which breaks the multiplicative lattice) on t = j*dim + k, all
# mod 2147483647 -- every intermediate fits in int64 in numpy, BIGINT in
# DuckDB, and the final x/M*2-1 float normalization is the same three
# correctly-rounded IEEE ops on both sides (pinned bitwise in
# tests/test_wave40.py).  Cell assignment rounds the centroid dot to 9
# digits BEFORE the argmax (first-max / smallest-j tie-break), the
# registry's rank-before-round discipline: it makes the assignment robust
# to summation-association differences, so the engine side can use a
# vectorized matmul (V @ W.T) instead of 256x64 literal fold expressions.

_LEHMER_M = 2147483647  # 2^31 - 1


def nlist_for(n: int) -> int:
    """Largest power of two <= sqrt(n), floored at 16 -- mirrored
    exactly by SQL_NLIST_EXPR (floor(log2(n)) == n.bit_length()-1, and
    floor(log2(n)/2) == (n.bit_length()-1)//2 because the fractional part
    of log2(n) is < 1 so halving it cannot cross an integer)."""
    if n < 1:
        return 16
    return max(16, 1 << ((n.bit_length() - 1) // 2))


# DuckDB mirror of nlist_for over a COUNT(*) scalar named `cnt`; double
# log2/power are exact here (log2 of an exact power of two is exact, and a
# non-power's log2 sits >= 6.7e-10 away from the next integer at n < 2^40,
# far outside 1 ulp), verified n-by-n against nlist_for in tests.
SQL_NLIST_EXPR = (
    "GREATEST(16, CAST(POWER(2, (CAST(FLOOR(LOG2(cnt)) AS INT) // 2)) AS INT))"
)


def adaptive_centroids(dim: int, nlist: int):
    """The formula centroid matrix (nlist x dim, components in [-1, 1)),
    bit-identical to the SQL in sql_adaptive_quantizer_ctes."""
    t = np.arange(nlist * dim, dtype=np.int64)
    x1 = (48271 * (t + 1)) % _LEHMER_M
    x2 = (x1 * x1) % _LEHMER_M
    x3 = (48271 * x2 + 12345) % _LEHMER_M
    return (x3 / 2147483647.0 * 2.0 - 1.0).reshape(nlist, dim)


def sql_adaptive_quantizer_ctes(dim: int, src: str = "e") -> str:
    """`nl` (adaptive cell count from COUNT(*)) and `cents` (formula
    centroids) CTE bodies, to splice into a WITH chain after the `{src}`
    CTE.  The 65536 range cap bounds the generator, not the index: the
    sqrt rule reaches it only past 4e9 vectors PER ORACLE RUN, far beyond
    any DuckDB-checkable fixture."""
    x1 = f"((48271 * (j*{dim} + k + 1)) % {_LEHMER_M})"
    expr = (
        f"((48271 * (({x1} * {x1}) % {_LEHMER_M}) + 12345) % {_LEHMER_M})"
        " / 2147483647.0 * 2.0 - 1.0"
    )
    return f"""
    nl AS (SELECT {SQL_NLIST_EXPR} AS nlist
           FROM (SELECT COUNT(*) AS cnt FROM {src})),
    cents AS (
        SELECT j, list_transform(range({dim}), k -> {expr}) AS w
        FROM range(65536) t(j) WHERE j < (SELECT nlist FROM nl))"""


# --- adaptive hyperplane-LSH bits (round 13) --------------------------------
# The random-hyperplane bucket family (q55/q65/q297/q300) was the last
# fixed-capacity constant after round 12 made the IVF nlist adaptive: with a
# hard-coded bit count the candidate stream is Theta(n^2 / 2^bits) -- at
# 100x the data each bucket's pair block is doing the quadratic work again.
# The rule here keeps the EXPECTED BUCKET SIZE constant instead:
# bits = ceil(log2(ceil(n / target_bucket))), floored at the family's
# historical constant and capped at HP_MAX_BITS, derived from COUNT(*) on
# BOTH engine and oracle sides (the round-12 nlist discipline).  Per-bucket
# work is then Theta(target^2 * 2^bits) = Theta(n * target): linear.
# The planes themselves come from the same Lehmer-squared integer formula as
# the adaptive centroids -- evaluated from scratch by numpy AND DuckDB on a
# DISJOINT stream (offset below), bit-identical (pinned in tests) -- so no
# plane literals need shipping into oracle SQL and the plane COUNT can be
# data-derived in SQL (gated range scan, like the cents CTE).

_HP_STREAM_OFFSET = 1_000_000  # disjoint Lehmer stream vs. the centroid t's
HP_MAX_BITS = 30  # bucket id stays a positive int32; 2^30 buckets ~ 1e9


def nbits_for(n: int, target_bucket: int, floor_bits: int) -> int:
    """ceil(log2(ceil(n / target_bucket))) clamped to [floor_bits, HP_MAX_BITS]:
    the smallest bit count whose expected bucket size is <= target_bucket.
    Mirrored exactly by sql_nbits_expr -- ceil_log2(m) == (m-1).bit_length()
    for m >= 1, the same no-fractional-crossing argument as nlist_for."""
    if n < 1:
        return floor_bits
    m = -(-n // target_bucket)
    return max(floor_bits, min(HP_MAX_BITS, (m - 1).bit_length()))


def sql_nbits_expr(target_bucket: int, floor_bits: int) -> str:
    """DuckDB mirror of nbits_for over a COUNT(*) scalar named `cnt`.
    target_bucket must be a power of two so cnt/target is exact binary
    scaling (CEIL then exact); LOG2 is exact on powers of two and a
    non-power's log2 sits far outside 1 ulp of an integer below 2^40."""
    if target_bucket & (target_bucket - 1):
        raise ValueError("target_bucket must be a power of two")
    m = f"GREATEST(CAST(CEIL(cnt / {target_bucket}.0) AS BIGINT), 1)"
    return (
        f"GREATEST({floor_bits}, LEAST({HP_MAX_BITS}, "
        f"CAST(CEIL(LOG2({m})) AS INT)))"
    )


def adaptive_hyperplanes(dim: int, nbits: int) -> np.ndarray:
    """Formula hyperplanes (nbits x dim, components in [-1, 1)): the
    adaptive_centroids Lehmer-squared chain on an OFFSET integer stream
    (so planes never coincide with centroid rows), bit-identical to the
    planes CTE in sql_adaptive_hyperplane_ctes.  Row-major in t means the
    first b rows for any larger bit count equal adaptive_hyperplanes(dim,
    b) -- growing the corpus only APPENDS planes, it never re-randomizes
    the existing bucket bits."""
    t = np.arange(nbits * dim, dtype=np.int64) + _HP_STREAM_OFFSET
    x1 = (48271 * (t + 1)) % _LEHMER_M
    x2 = (x1 * x1) % _LEHMER_M
    x3 = (48271 * x2 + 12345) % _LEHMER_M
    return (x3 / 2147483647.0 * 2.0 - 1.0).reshape(nbits, dim)


def sql_adaptive_hyperplane_ctes(
    dim: int, src: str = "e", target_bucket: int = 256, floor_bits: int = 8
) -> str:
    """`hb` (adaptive bit count from COUNT(*)) and `planes` (formula
    hyperplanes) CTE bodies, to splice after the `{src}` CTE."""
    t = f"(i*{dim} + k + {_HP_STREAM_OFFSET})"
    x1 = f"((48271 * ({t} + 1)) % {_LEHMER_M})"
    expr = (
        f"((48271 * (({x1} * {x1}) % {_LEHMER_M}) + 12345) % {_LEHMER_M})"
        " / 2147483647.0 * 2.0 - 1.0"
    )
    return f"""
    hb AS (SELECT {sql_nbits_expr(target_bucket, floor_bits)} AS bits
           FROM (SELECT COUNT(*) AS cnt FROM {src})),
    planes AS (
        SELECT i, list_transform(range({dim}), k -> {expr}) AS w
        FROM range({HP_MAX_BITS}) t(i) WHERE i < (SELECT bits FROM hb))"""


def sql_adaptive_bucket_cte(src: str) -> str:
    """`bkt` CTE body: per-row (vec_id, v) sign-bit bucket id against
    `planes` (from sql_adaptive_hyperplane_ctes).  array_inner_product over
    DOUBLE[64] is the SIMD kernel measured bit-identical to list_dot_product's
    sequential fold -- the same double fold the engine's JVM `dot` runs --
    so the SIGN (all that reaches the bucket id) agrees exactly."""
    return f"""
    bkt AS (
        SELECT s.vec_id,
               CAST(SUM(CASE WHEN array_inner_product(
                        CAST(s.v AS DOUBLE[64]),
                        CAST(p.w AS DOUBLE[64])) > 0
                    THEN (1 << p.i) ELSE 0 END) AS INT) AS bucket
        FROM {src} s CROSS JOIN planes p GROUP BY s.vec_id)"""


def sql_adaptive_cell_cte(
    src: str,
    cols: str,
    dim: int = 64,
    materialized: bool = False,
) -> str:
    """`cells` CTE body: argmax-centroid assignment of `{src}` rows (round
    the dot to 9 digits BEFORE ranking, smallest-j tie-break -- the exact
    mirror of assign_cells_arrow).

    Shape matters at sf10 (round-12 lesson: the first spelling OOM'd a
    44.7 GB DuckDB budget): the n x nlist window ranks a SLIM projection
    (vec_id, j, score -- the 512-byte vector must NOT ride through the
    51M-row sort), scores use the SIMD fixed-array kernel
    (array_inner_product over DOUBLE[dim], measured bit-identical to
    list_dot_product's sequential fold and ~50x faster), both sides of
    the cross join cast to the fixed array ONCE in subqueries, and the
    winning (vec_id, cell) pairs join back to `{src}` for the caller's
    columns.  `materialized` stops DuckDB re-running the whole
    assignment when the caller references `cells` twice (pair joins)."""
    kw = "AS MATERIALIZED" if materialized else "AS"
    # The score is computed in its OWN projection below the window: DuckDB
    # materializes a window's whole input frame, so an ORDER BY expression
    # that still references the two 512-byte array columns drags them into
    # the n x nlist sort -- 51 GB at sf10, the round-12 OOM.  Projected
    # first, the window frame is 24 bytes/row.
    return f"""
    cells {kw} (
        SELECT {cols}, a.cell FROM {src} JOIN (
            SELECT vec_id, j AS cell FROM (
                SELECT vec_id, j,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY sc DESC, j) AS rk
                FROM (
                    SELECT s.vec_id, c.j,
                           ROUND(array_inner_product(s.vv, c.wa), 9) AS sc
                    FROM (SELECT vec_id, CAST(v AS DOUBLE[{dim}]) AS vv
                          FROM {src}) s
                    CROSS JOIN (SELECT j, CAST(w AS DOUBLE[{dim}]) AS wa
                                FROM cents) c)) WHERE rk = 1) a USING (vec_id))"""


def assign_cells_arrow(df: DataFrame, vec_col: str, centroids) -> DataFrame:
    """Append `cell` = argmax_j round(dot(v, w_j), 9) via a vectorized Arrow
    kernel (one matmul per batch; np.argmax takes the FIRST max, which is
    the smallest-j tie-break the oracle's ORDER BY ... DESC, j replays).
    The centroid matrix rides the closure -- nlist x dim doubles, bounded
    model state exactly like the LSH hyperplanes."""
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    W = np.ascontiguousarray(centroids, dtype=np.float64)
    out_schema = StructType(df.schema.fields + [StructField("cell", IntegerType())])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s = np.round(V @ W.T, 9)
            yield pdf.assign(cell=s.argmax(axis=1).astype("int32"))

    return df.mapInPandas(kernel, out_schema)


def probe_cells_arrow(
    df: DataFrame, vec_col: str, centroids, nprobe: int
) -> DataFrame:
    """Explode each row into its top-`nprobe` centroid cells (round-9 score,
    score-desc then smallest-j order) -- the probe-list kernel for the
    partition-pruned IVF scan.  `probe_rank` (1-based) is emitted
    explicitly so depth-sweep consumers (q395) never reconstruct the
    ranking from row emission order."""
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    W = np.ascontiguousarray(centroids, dtype=np.float64)
    nl = W.shape[0]
    out_schema = StructType(
        df.schema.fields
        + [StructField("cell", IntegerType()), StructField("probe_rank", IntegerType())]
    )
    take = min(nprobe, nl)

    def kernel(batches):
        j_idx = np.arange(nl)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            s = np.round(V @ W.T, 9)
            frames = []
            for r in range(len(pdf)):
                order = np.lexsort((j_idx, -s[r]))[:take]
                rep = pdf.iloc[[r] * take].copy()
                rep["cell"] = order.astype("int32")
                rep["probe_rank"] = np.arange(1, len(order) + 1, dtype="int32")
                frames.append(rep)
            yield pd.concat(frames, ignore_index=True)

    return df.mapInPandas(kernel, out_schema)


def panel_topk_arrow(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    panel_ids,
    panel_mat,
    k: int,
    fold_values: bool = False,
) -> DataFrame:
    """Exact top-k cosine CANDIDATES of a small fixed query panel against a
    corpus scan, as one Arrow kernel: the panel matrix rides the closure
    (an eval panel is bounded model state, like the PQ codebook), each
    corpus batch is scored with one matmul, and the kernel emits at most
    k rows per (query, batch) under the registry's exact tie-break
    (round-9 score desc, neighbor id asc).  Batch-local top-k is lossless
    for the global top-k -- the global winners are each batch-locally
    among the best k -- so the caller finishes with one tiny window over
    <= k * n_batches rows per query.  This replaces a per-pair JVM fold
    (q395's exact side: 376 s -> seconds at sf10) while keeping the
    one-scan, no-shuffle-of-the-corpus plan shape.  Zero-norm vectors
    score -inf (the try_divide-null-sorts-last convention).

    ``fold_values=True`` switches the scoring to fold-association vector
    ops (_seq_dot_block) + half-away-from-zero rounding -- bit-identical
    to the JVM `_pair_cosine` / DuckDB ROUND(list_dot_product ...)
    spelling -- for consumers whose OUTPUT contains the cosine value
    (q307), where matmul association and banker's rounding would leak
    into emitted values.  Rank-only consumers (q297/q300/q395 exact
    sides, where only neighbor IDS survive) keep the ~2-3x faster matmul
    under the rank-before-round discipline."""
    import pandas as pd

    P = np.ascontiguousarray(panel_mat, dtype=np.float64)
    pids = np.asarray(panel_ids, dtype=np.int64)
    pn = np.sqrt(_seq_self_dot(P)) if fold_values else np.sqrt((P * P).sum(axis=1))

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf[corpus_id].to_numpy().astype(np.int64)
            B = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                if fold_values:
                    bn = np.sqrt(_seq_self_dot(B))
                    sims = _round_half_away(
                        _seq_dot_block(P, B) / (pn[:, None] * bn[None, :]), 9
                    )
                else:
                    bn = np.sqrt((B * B).sum(axis=1))
                    sims = np.round((P @ B.T) / (pn[:, None] * bn[None, :]), 9)
            sims[~np.isfinite(sims)] = -np.inf
            n = sims.shape[1]
            kk = min(k, n)
            frames = []
            for qi in range(len(pids)):
                row = sims[qi].copy()
                row[bids == pids[qi]] = -np.inf
                if n > kk:
                    kth = np.partition(row, n - kk)[n - kk]
                    cand = np.flatnonzero(row >= kth)
                else:
                    cand = np.arange(n)
                order = np.lexsort((bids[cand], -row[cand]))[:kk]
                idx = cand[order]
                idx = idx[row[idx] > -np.inf]
                if len(idx) == 0:
                    continue
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(idx), pids[qi], dtype=np.int64),
                            "neighbor_id": bids[idx],
                            "c": row[idx],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return corpus.mapInPandas(kernel, "query_id long, neighbor_id long, c double")


def panel_exact_topk(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    panel_df: DataFrame,
    panel_id: str,
    panel_vec: str,
    k: int,
    fold_values: bool = False,
) -> DataFrame:
    """Exact global top-k of a query panel against the corpus: collect the
    panel (the eval-sample discipline -- |panel| x dim doubles ride the
    kernel closure; 2 MB at sf10's n/50 sample, a fixed few hundred rows in
    a production eval set), one panel_topk_arrow corpus scan emitting <= k
    batch-local candidates per query, one window over the tiny candidate
    stream.  Returns (query_id, neighbor_id, cos_sim, rank) -- the drop-in
    vectorization of `topk_cosine(sample, corpus)` (round-13: q297 80.8 s /
    q300 74.5 s / q307 89.9 s sf1 Spark sides were per-pair JVM folds of
    exactly this shape).  Use fold_values=True when the cosine VALUE is
    part of the caller's output."""
    from pyspark.sql import Window

    panel = sorted(
        panel_df.select(panel_id, panel_vec).collect(), key=lambda r: r[0]
    )
    p_ids = [r[0] for r in panel]
    p_mat = np.array([r[1] for r in panel], dtype=np.float64)
    w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id")
    )
    return (
        panel_topk_arrow(
            corpus, corpus_id, corpus_vec, p_ids, p_mat, k,
            fold_values=fold_values,
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("c").alias("cos_sim"), "rank")
    )


def _seq_dot_block(A, B):
    """Dot products of each row of A against each row of B with the EXACT
    left-to-right per-element association of the JVM fold / DuckDB
    list_dot_product (acc = (acc + a_k*b_k) in k order): a k-loop of fused
    vector ops instead of a BLAS matmul, ~2-3x slower than matmul but
    BIT-IDENTICAL to the scalar fold (pinned in tests) -- which is what
    lets an Arrow kernel replace a per-pair fold in a query whose OUTPUT
    contains the cosine value itself."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        acc = acc + A[:, k][:, None] * B[:, k][None, :]
    return acc


def _seq_self_dot(A):
    """Row self-dots with fold association (for norms)."""
    acc = np.zeros(A.shape[0])
    for k in range(A.shape[1]):
        acc = acc + A[:, k] * A[:, k]
    return acc


def _round_half_away(x: np.ndarray, digits: int) -> np.ndarray:
    """Half-AWAY-from-zero rounding, elementwise: sign(x)*floor(|x|*10^d+0.5)
    /10^d.  np.round is banker's (half-to-even), but both DuckDB ROUND and
    Spark F.round are half-up -- a value whose scaled magnitude lands exactly
    on a representable half-integer diverges in the last emitted digit under
    np.round (q389 hit this on its recall scalar; this is the same rule for
    value-emitting array kernels).  NaN/inf pass through unchanged."""
    scale = 10.0 ** digits
    t = np.abs(x) * scale
    out = np.copysign(np.floor(t + 0.5) / scale, x)
    return np.where(np.isfinite(t), out, x)


# Row slab of the pair kernels below: executor memory per slab is
# _CHUNK x bucket (or block) doubles, never the pair square.
_CHUNK = 512


def bucketed_cosine_pairs_arrow(
    bucketed: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Within-bucket (id1 < id2) cosine pairs >= threshold via a per-bucket
    Arrow kernel: one shuffle on bucket, then each bucket's pair block is
    scored with fold-association vector ops (see _seq_dot_block) in
    `_CHUNK`-row slabs, so executor memory is _CHUNK x bucket doubles, never
    the pair square.  Emits (id1, id2, cos_sim) with cos_sim =
    round(dot/(n1*n2), 9) -- bit-identical to the JVM-fold
    spelling it replaces (q65: sf1 spark side ~10x), zero-norm rows nulled
    out by the nan -> drop rule (try_divide convention)."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"id1": pd.Series(dtype="int64"),
                 "id2": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        ids = pdf[id_col].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[order]
        nrm = np.sqrt(_seq_self_dot(M))
        out1: list[np.ndarray] = []
        out2: list[np.ndarray] = []
        outc: list[np.ndarray] = []
        for lo in range(0, m, _CHUNK):
            hi = min(lo + _CHUNK, m)
            dots = _seq_dot_block(M[lo:hi], M)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _round_half_away(
                    dots / (nrm[lo:hi][:, None] * nrm[None, :]), 9
                )
            # strict upper triangle in SORTED-id space == id1 < id2
            rows, cols = np.nonzero(
                (cos >= threshold)
                & (np.arange(m)[None, :] > np.arange(lo, hi)[:, None])
            )
            if len(rows):
                out1.append(ids[rows + lo])
                out2.append(ids[cols])
                outc.append(cos[rows, cols])
        if not out1:
            return pd.DataFrame(
                {"id1": pd.Series(dtype="int64"),
                 "id2": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        return pd.DataFrame(
            {"id1": np.concatenate(out1),
             "id2": np.concatenate(out2),
             "cos_sim": np.concatenate(outc)}
        )

    return bucketed.groupBy("bucket").applyInPandas(
        kernel, "id1 long, id2 long, cos_sim double"
    )


def bucketed_euclid_pairs_arrow(
    grouped: DataFrame,
    group_cols: list[str],
    id_col: str,
    vec_col: str,
    threshold: float,
    round_digits: int = 6,
) -> DataFrame:
    """Within-bucket (id1 < id2) EUCLIDEAN pairs with dist < threshold via a
    per-bucket Arrow kernel -- the metric twin of bucketed_cosine_pairs_arrow
    for OR-amplified LSH tables (q178: candidates = pairs sharing any
    (table, hash-bucket); the same pair surfacing from several tables emits
    the identical rounded distance, so the caller's distinct() collapses
    duplicates).  dist = round(sqrt(fold (x_k - y_k)^2), round_digits) with
    the exact left-to-right fold association of the JVM
    aggregate(zip_with(...)) spelling it replaces (k-loop of fused vector
    ops, _seq_dot_block discipline) and half-away-from-zero rounding
    (F.round parity).  Executor memory is _CHUNK x bucket doubles, never the
    pair square."""
    import pandas as pd

    empty = {
        "id1": pd.Series(dtype="int64"),
        "id2": pd.Series(dtype="int64"),
        "eucl_dist": pd.Series(dtype="float64"),
    }

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(empty)
        ids = pdf[id_col].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[order]
        out1: list[np.ndarray] = []
        out2: list[np.ndarray] = []
        outd: list[np.ndarray] = []
        for lo in range(0, m, _CHUNK):
            hi = min(lo + _CHUNK, m)
            # fold-association squared distance: acc = acc + (x_k - y_k)^2
            # in k order (bit-identical to aggregate(zip_with(...)))
            acc = np.zeros((hi - lo, m))
            A = M[lo:hi]
            for k in range(M.shape[1]):
                d = A[:, k][:, None] - M[:, k][None, :]
                acc += d * d
            dist = np.sqrt(acc)
            # filter on the UNROUNDED distance (F.round only decorates the
            # emitted value in the spelling this replaces)
            rows, cols = np.nonzero(
                (dist < threshold)
                & (np.arange(m)[None, :] > np.arange(lo, hi)[:, None])
            )
            if len(rows):
                out1.append(ids[rows + lo])
                out2.append(ids[cols])
                outd.append(_round_half_away(dist[rows, cols], round_digits))
        if not out1:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "id1": np.concatenate(out1),
                "id2": np.concatenate(out2),
                "eucl_dist": np.concatenate(outd),
            }
        )

    # A bucket costs the square of its rows, not its bytes, so AQE's
    # byte-sized coalescing of the groupBy shuffle packs heavy buckets onto
    # fewer tasks than cores (q178 at sf0.1 on 4 cores: 2 tasks).  An
    # explicit count is never coalesced, and two partitions per core let
    # the scheduler balance a few heavy buckets.
    par = grouped.sparkSession.sparkContext.defaultParallelism
    return (
        grouped.repartition(2 * par, *group_cols)
        .groupBy(*group_cols)
        .applyInPandas(kernel, "id1 long, id2 long, eucl_dist double")
    )


def all_pairs_cosine_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs (id1 < id2) cosine >= threshold as a BLOCKED
    upper-triangle Arrow kernel -- the parallel, vectorized spelling of the
    theta-join + per-pair JVM fold it replaces (q114's old plan was a
    BroadcastNestedLoopJoin evaluating ~n^2/2 interpreted 64-wide folds on
    ONE task: 59 s at sf0.1).

    Each row gets a deterministic block id pmod(xxhash64(id), B) and is
    replicated into the B groups {(min(blk,o), max(blk,o)) : o in 0..B-1},
    so block-pair group (p, q) holds exactly the rows of blocks p and q and
    every unordered pair lands in exactly one group: (p, p) scores its
    within-block triangle, (p, q<p?) no -- p < q -- scores only the p x q
    rectangle (within-block pairs of a mixed group belong to the diagonal
    groups, so no pair is scored twice and no flops are wasted on masked
    duplicates).  Total pair work stays ~n^2/2 spread over B(B+1)/2
    independent tasks; shuffle cost is B copies of the vectors -- the
    decide-with-small-rows trade (vectors are 64 doubles; at 100 TB this
    operator's exact form is the fenced ground-truth twin anyway, q65 is
    the production path).

    Values are BIT-IDENTICAL to the `_pair_cosine` JVM spelling: the same
    fold-association _seq_dot_block / _seq_self_dot and half-away-from-zero
    rounding as bucketed_cosine_pairs_arrow (pinned engine<->oracle for the
    q65 family; q114 adds its own old-vs-new pin).  Zero-norm rows drop by
    the nan-fails-threshold rule (try_divide convention).
    """
    import pandas as pd

    spark = corpus.sparkSession
    if n_blocks is None:
        # B(B+1)/2 groups ~= 2-3x the core count so the tail keeps all
        # slots busy; derived from the cluster, not a constant.
        par = spark.sparkContext.defaultParallelism
        n_blocks = max(2, math.isqrt(4 * par))
    B = int(n_blocks)
    base = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("blk"),
    )
    rep = base.select(
        "id",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("ob"),
    ).select(
        "id",
        "v",
        "blk",
        F.least("blk", "ob").alias("bi"),
        F.greatest("blk", "ob").alias("bj"),
    )

    empty = {
        "id1": pd.Series(dtype="int64"),
        "id2": pd.Series(dtype="int64"),
        "cos_sim": pd.Series(dtype="float64"),
    }

    def kernel(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        ids = pdf["id"].to_numpy().astype(np.int64)
        out1: list[np.ndarray] = []
        out2: list[np.ndarray] = []
        outc: list[np.ndarray] = []
        if bi == bj:
            m = len(ids)
            if m < 2:
                return pd.DataFrame(empty)
            order = np.argsort(ids)
            ids = ids[order]
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)[order]
            nrm = np.sqrt(_seq_self_dot(M))
            for lo in range(0, m, _CHUNK):
                hi = min(lo + _CHUNK, m)
                dots = _seq_dot_block(M[lo:hi], M)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _round_half_away(
                        dots / (nrm[lo:hi][:, None] * nrm[None, :]), 9
                    )
                # strict upper triangle in SORTED-id space == id1 < id2
                rows, cols = np.nonzero(
                    (cos >= threshold)
                    & (np.arange(m)[None, :] > np.arange(lo, hi)[:, None])
                )
                if len(rows):
                    out1.append(ids[rows + lo])
                    out2.append(ids[cols])
                    outc.append(cos[rows, cols])
        else:
            blks = pdf["blk"].to_numpy().astype(np.int64)
            a_sel = blks == bi
            b_sel = ~a_sel
            if not a_sel.any() or not b_sel.any():
                return pd.DataFrame(empty)
            M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            ida, idb = ids[a_sel], ids[b_sel]
            A, Bm = M[a_sel], M[b_sel]
            na = np.sqrt(_seq_self_dot(A))
            nb = np.sqrt(_seq_self_dot(Bm))
            for lo in range(0, len(ida), _CHUNK):
                hi = min(lo + _CHUNK, len(ida))
                dots = _seq_dot_block(A[lo:hi], Bm)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = _round_half_away(
                        dots / (na[lo:hi][:, None] * nb[None, :]), 9
                    )
                rows, cols = np.nonzero(cos >= threshold)
                if len(rows):
                    x, y = ida[rows + lo], idb[cols]
                    out1.append(np.minimum(x, y))
                    out2.append(np.maximum(x, y))
                    outc.append(cos[rows, cols])
        if not out1:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "id1": np.concatenate(out1),
                "id2": np.concatenate(out2),
                "cos_sim": np.concatenate(outc),
            }
        )

    return rep.groupBy("bi", "bj").applyInPandas(
        kernel, "id1 long, id2 long, cos_sim double"
    )
