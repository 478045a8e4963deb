"""Wave 40 (round 12): measured-policy dispatch and time-based streaming
emission.

- q393 dictionary tagging with AUTO-DISPATCH (round-11 verdict #3): q380
  (JVM replace-diff) and q383 (Aho-Corasick automaton) are value-locked
  twins whose crossover is MEASURED, not guessed (round 11: ~35 terms;
  re-derived ~5 in round 13 after the lockstep-numpy kernel,
  tools/textscan_r13.json) -- a caller had to pick by hand, and at
  100 TB the wrong pick costs ~10x.  `tag_dictionary` applies the policy
  table inside the operator; this entry registers it with a dictionary
  large enough to select the automaton branch, value-locked to the same
  replace-diff oracle as the twins.
- q394 session windows in APPEND mode (round-11 verdict #7): q84 drains
  the merging-session operator in complete mode, where the watermark
  never withholds output; this entry replays the APPEND emission rule
  exactly -- a session emits iff the final watermark passed its end --
  extending the split-independence evidence (q340/q367/q372/q392 prove it
  for commutative-merge state) to TIME-based state, q146/q159's oracle
  discipline applied to session windows.
- q395 IVF nprobe-recall tuning curve: recall@k at probe depths 1/2/4 on
  a FIXED evaluation panel against the exact top-k -- the q389 recall
  discipline turned into the operational knob curve (panel x corpus is
  linear in n, how production actually tunes an index).
- q396 streaming dictionary-tag monitor: q393's automaton scan run
  statelessly inside the document stream with complete-mode per-term
  aggregation, value-locked to the same replace-diff oracle (the
  q390/q392 twin discipline applied to text curation).

Reference parity note: the reference computes none of this (its single
pipeline is Kafka->println, Processor.java:118-139); these are engine-surface
operators in the charter's LLM-data-pipeline / streaming families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import register

# ---------------------------------------------------------------------------
# q393: dictionary tagging with measured auto-dispatch
# ---------------------------------------------------------------------------

# A production-shaped dictionary: every fixture vocabulary word, a band of
# multi-word phrases, and four vocabulary-absent terms (zero-hit rows must
# survive to the output).  56 terms > the measured crossover (~35 in r11,
# ~5 since the round-13 lockstep kernel), so the dispatcher must pick the
# automaton branch (plan-pinned in tests).
_TAG_WORDS = [
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "group", "part",
    "big", "sort", "query", "fast", "dup",
]
_TAG_PHRASES = [
    "hash join", "table scan", "merge sort", "slow query", "fast scan",
    "row group", "key value", "big table", "data line", "sort order",
    "window agg", "stream batch", "query filter", "vector column",
    "small part", "spark table", "dup row", "slow scan", "fast join",
    "batch window", "customer line", "order data", "agg join",
]
_TAG_ABSENT = ["gpu kernel", "tensor core", "quantum leap", "neural net"]
_TAG_DICT: list[tuple[str, str]] = (
    [(t, "word") for t in _TAG_WORDS]
    + [(t, "phrase") for t in _TAG_PHRASES]
    + [(t, "absent") for t in _TAG_ABSENT]
)

_TAG_VALUES = ", ".join(f"('{t}', '{c}')" for t, c in _TAG_DICT)


@register(
    "q393_tag_dictionary_auto",
    sql=f"""
    WITH dict(term, category) AS (VALUES {_TAG_VALUES}),
    m AS (
        SELECT d.term, d.category,
               (length(doc.text) - length(replace(doc.text, d.term, '')))
                 // length(d.term) AS occ
        FROM documents doc CROSS JOIN dict d)
    SELECT term, category,
           CAST(COUNT(*) FILTER (WHERE occ > 0) AS BIGINT) AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS total_occ,
           CAST(MAX(occ) AS BIGINT) AS max_occ
    FROM m GROUP BY 1, 2 ORDER BY term
    """,
    doc=f"Dictionary tagging with MEASURED AUTO-DISPATCH (round-11 verdict "
    f"#3): tag_dictionary(df, dict) picks q380's JVM replace-diff "
    "spelling below the measured crossover (~5 terms since the round-13 "
    "lockstep kernel; ~35 before) and q383's one-pass Aho-Corasick Arrow "
    "kernel at or above it -- the policy constant is a committed measurement "
    "(tools/textscan_r13.json, SCALING.md: per-term rescans win only while the dictionary is "
    "small; the automaton is flat in dictionary size), so the 10x "
    "wrong-branch cost at 100 TB is an operator decision, not a caller "
    f"guess.  This entry runs a {len(_TAG_DICT)}-term dictionary (every "
    "fixture vocabulary word, 23 phrases, 4 vocabulary-absent terms) -> "
    "the AUTOMATON branch, value-locked to the exact replace-diff "
    "oracle the q380/q383 twins share; a plan test pins that the small-"
    "dict call compiles to pure codegen (no Arrow node) and the large-"
    "dict call to the Arrow kernel.  Counts are exact non-overlapping "
    "str.count occurrences in both branches (operators/text_scan.py, "
    "fuzz-pinned).",
)
def q393_tag_dictionary_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_scan import tag_dictionary

    d = load_table(spark, sf_dir, "documents")
    return tag_dictionary(d, "text", _TAG_DICT)


# ---------------------------------------------------------------------------
# q394: streaming session windows, APPEND mode (exact emission replay)
# ---------------------------------------------------------------------------


def _q394_oracle(cmp: str) -> str:
    return f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts ASC) > 1800000000
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
        FROM flagged),
    s AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, sid),
    wm AS (
        SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 2 HOUR AS w
        FROM events)
    SELECT user_id, session_start, session_end, n_events
    FROM s, wm WHERE session_end {cmp} w
    ORDER BY user_id, session_start
    """


@register(
    "q394_stream_session_append",
    sql=_q394_oracle("<"),
    doc="STREAMING session windows drained in APPEND mode with the emission "
    "rule replayed EXACTLY (round-11 verdict #7 -- time-based state "
    "joins the split-independence evidence): q84 drains the same "
    "30-min-gap merging-session aggregation in complete mode, where the "
    "watermark withholds nothing; in append mode a session row may only "
    "emit once the event-time watermark has passed its end, so the "
    "drained output is the CLOSED sessions only and still-open sessions "
    "are withheld -- correct streaming semantics, not missing data.  The "
    "oracle replays the rule against the batch gaps-and-islands "
    "sessionization (q35/q84's oracle): final watermark = max event "
    "time (ms truncation, Spark's internal watermark precision) - the "
    "2h delay, and a session emits iff session_end < watermark -- the "
    "q146/q159 stream-stream-join oracle discipline applied to session "
    "state.  A forced multi-split replay test (time-sliced files, "
    "pinned mtimes) proves the emitted set is batch-boundary-"
    "independent; session state is keyed by user, one shuffle on the "
    "grouping key.",
)
def q394_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import _user_sessions

    return _user_sessions(spark, sf_dir, "append")


# ---------------------------------------------------------------------------
# q395: IVF nprobe-recall tuning curve (fixed eval panel, linear in n)
# ---------------------------------------------------------------------------

_NP_CAP = 20000  # eval panel: vec_id % QMOD == 0 AND vec_id < cap
_NP_K = 3  # top-k scored at each probe depth
_NP_DEPTHS = [1, 2, 4]


def _q395_oracle() -> str:
    from ..operators.similarity import (
        sql_adaptive_cell_cte,
        sql_adaptive_quantizer_ctes,
    )
    from .wave38 import _IVF_QMOD

    cells = sql_adaptive_cell_cte("e", "vec_id, v", materialized=True).replace(
        "cells AS", "corpus AS", 1
    )
    depth_rows = ", ".join(f"({d})" for d in _NP_DEPTHS)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS v FROM embeddings),
    {sql_adaptive_quantizer_ctes(64, src="e")},
    {cells},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {_IVF_QMOD} = 0 AND vec_id < {_NP_CAP}),
    pr AS (
        SELECT query_id, j AS cell, rk FROM (
            SELECT q.query_id, c.j,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND(array_inner_product(q.qv,
                           CAST(c.w AS DOUBLE[64])), 9) DESC, c.j) AS rk
            FROM q CROSS JOIN cents c)),
    exacts AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY c DESC, neighbor_id) AS rn
            FROM (
                SELECT q.query_id, x.vec_id AS neighbor_id,
                       ROUND(array_inner_product(q.qv, x.v)
                             / NULLIF(sqrt(array_inner_product(q.qv, q.qv))
                                * sqrt(array_inner_product(x.v, x.v)), 0), 9) AS c
                FROM q JOIN e x ON x.vec_id <> q.query_id))
        WHERE rn <= {_NP_K}),
    depths(np) AS (VALUES {depth_rows}),
    approx AS (
        SELECT np, query_id, neighbor_id FROM (
            SELECT d.np, t.query_id, t.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY d.np, t.query_id
                       ORDER BY t.c DESC, t.neighbor_id) AS rn
            FROM depths d JOIN (
                SELECT p.query_id, p.rk, x.vec_id AS neighbor_id,
                       ROUND(array_inner_product(q.qv, x.v)
                             / NULLIF(sqrt(array_inner_product(q.qv, q.qv))
                                * sqrt(array_inner_product(x.v, x.v)), 0), 9) AS c
                FROM pr p
                JOIN q ON q.query_id = p.query_id
                JOIN corpus x ON x.cell = p.cell AND x.vec_id <> p.query_id
            ) t ON t.rk <= d.np)
        WHERE rn <= {_NP_K}),
    hits AS (
        SELECT d.np,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
               CAST(COUNT(*) AS BIGINT) AS n_truth
        FROM depths d
        CROSS JOIN exacts g
        LEFT JOIN approx a
          ON a.np = d.np AND a.query_id = g.query_id
         AND a.neighbor_id = g.neighbor_id
        GROUP BY d.np)
    SELECT np AS nprobe, n_truth, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / n_truth, 6) AS recall_at_{_NP_K}
    FROM hits ORDER BY nprobe
    """


@register(
    "q395_ivf_nprobe_recall_curve",
    sql=_q395_oracle(),
    doc=f"IVF nprobe-recall tuning curve: recall@{_NP_K} of the "
    f"partition-pruned probe at depths {_NP_DEPTHS} against the exact "
    "top-k, on a FIXED evaluation panel (vec_id % 199 = 0 AND vec_id < "
    f"{_NP_CAP} -- a constant-size query set, so the exact side is "
    "panel x corpus, LINEAR in n, not the corpus-pair square; this is "
    "how production tunes an index: a pinned eval panel re-scored as "
    "nprobe/nlist/quantizer change, the q389 recall discipline turned "
    "into the operational knob curve).  Engine plan: ONE probe ranking "
    "per query (Arrow kernel, all depths share it -- depth d's cells "
    "are the rank<=d prefix), one candidate join per depth against the "
    "adaptive cell assignment, rank-before-round top-k, then a "
    "broadcast-able join against the exact panel top-k for hit "
    "counting.  The oracle replays the count rule, formula centroids, "
    "probe ranking, per-depth candidate restriction, and both top-k "
    "stages.  At 100 TB: panel size is an operator constant (100-1k "
    "queries), the exact side is a panel-broadcast corpus scan, the "
    "curve costs one pass per depth over nprobe/nlist of the corpus.",
)
def q395_ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import (
        adaptive_centroids,
        assign_cells_arrow,
        dot,
        nlist_for,
        probe_cells_arrow,
    )
    from .wave38 import _IVF_QMOD

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nlist = nlist_for(e.count())
    W = adaptive_centroids(64, nlist)
    corpus = assign_cells_arrow(e, "v", W)
    q = e.filter(
        (F.col("vec_id") % _IVF_QMOD == 0) & (F.col("vec_id") < _NP_CAP)
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))

    max_d = max(_NP_DEPTHS)
    pr = probe_cells_arrow(q, "qv", W, max_d).withColumnRenamed(
        "probe_rank", "rk"
    )
    qn = F.sqrt(dot(F.col("qv"), F.col("qv")))
    cos = F.round(
        F.try_divide(
            dot(F.col("qv"), F.col("cv")),
            qn * F.sqrt(dot(F.col("cv"), F.col("cv"))),
        ),
        9,
    )
    depths = spark.createDataFrame([(d,) for d in _NP_DEPTHS], "np int")

    # the probe list is a fixed panel x nprobe rows -- broadcast it
    # explicitly: it comes out of an Arrow kernel with no stats, so the
    # static planner would sort-merge the corpus for a kilobyte-sized side
    cand = (
        F.broadcast(pr)
        .join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("cell"),
            ),
            "cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "rk", "neighbor_id", cos.alias("c"))
    )
    a_w = Window.partitionBy("np", "query_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id")
    )
    approx = (
        cand.join(F.broadcast(depths), F.col("rk") <= F.col("np"))
        .withColumn("rn", F.row_number().over(a_w))
        .filter(F.col("rn") <= _NP_K)
        .select("np", "query_id", "neighbor_id")
    )
    # exact side: the panel is bounded model state by construction
    # (vec_id < cap => <= ~100 rows), so it ships in the Arrow kernel's
    # closure like a codebook; one corpus scan emits <= K candidates per
    # (query, batch) and the global window ranks that tiny stream --
    # replacing the per-pair JVM fold (376 s -> seconds at sf10)
    import numpy as np

    from ..operators.similarity import panel_topk_arrow

    panel = sorted(q.collect(), key=lambda r: r["query_id"])
    p_ids = [r["query_id"] for r in panel]
    p_mat = np.array([r["qv"] for r in panel], dtype=np.float64)
    ex_w = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id")
    )
    exacts = (
        panel_topk_arrow(e, "vec_id", "v", p_ids, p_mat, _NP_K)
        .withColumn("rn", F.row_number().over(ex_w))
        .filter(F.col("rn") <= _NP_K)
        .select("query_id", "neighbor_id")
    )
    hits = (
        F.broadcast(depths)
        .crossJoin(exacts)
        .join(
            # right side of the left-outer: panel x K x depths rows, broadcast
            F.broadcast(approx.withColumnRenamed("np", "anp")),
            (F.col("anp") == F.col("np"))
            & (approx["query_id"] == exacts["query_id"])
            & (approx["neighbor_id"] == exacts["neighbor_id"]),
            "left",
        )
        .groupBy("np")
        .agg(
            F.count(F.col("anp")).cast("bigint").alias("n_hits"),
            F.count("*").cast("bigint").alias("n_truth"),
        )
    )
    return hits.select(
        F.col("np").alias("nprobe"),
        "n_truth",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.col("n_truth"), 6).alias(
            f"recall_at_{_NP_K}"
        ),
    ).orderBy("nprobe")


# ---------------------------------------------------------------------------
# q396: streaming dictionary-tag monitor (q393's streaming twin)
# ---------------------------------------------------------------------------


@register(
    "q396_stream_dictionary_monitor",
    sql=f"""
    WITH dict(term, category) AS (VALUES {_TAG_VALUES}),
    m AS (
        SELECT d.term, d.category,
               (length(doc.text) - length(replace(doc.text, d.term, '')))
                 // length(d.term) AS occ
        FROM documents doc CROSS JOIN dict d)
    SELECT term, category,
           CAST(COUNT(*) FILTER (WHERE occ > 0) AS BIGINT) AS n_docs,
           CAST(SUM(occ) AS BIGINT) AS total_occ,
           CAST(MAX(occ) AS BIGINT) AS max_occ
    FROM m GROUP BY 1, 2 ORDER BY term
    """,
    doc=f"STREAMING dictionary-tag monitor -- q393 as a continuous "
    "aggregation, value-locked to the SAME replace-diff oracle (the "
    "q390/q392 twin discipline applied to text curation): documents "
    "replay as a file stream, each micro-batch streams once through "
    f"the broadcast {len(_TAG_DICT)}-term Aho-Corasick automaton inside "
    "a stateless Arrow kernel (mapInPandas is streaming-legal; the "
    "automaton rides the closure exactly as in batch), and a "
    "complete-mode per-term count/sum/max aggregation feeds the final "
    "report.  This is the safety/blocklist monitor a corpus-ingest "
    "pipeline runs NEXT TO curation: per-term document counts and "
    "occurrence totals on the live firehose, drift in a blocked term's "
    "rate being the alert.  State is one (count, sum, max) triple per "
    "term -- bounded by dictionary size; counts/sums/maxes are "
    "associative so the drained snapshot equals the batch computation "
    "exactly, which is what the shared value oracle proves.  Zero-hit "
    "terms re-enter via the broadcast dictionary join after the drain.",
)
def q396_stream_dictionary_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_scan import dictionary_scan
    from ..streaming.pipeline import run_to_memory
    from ..streaming.source import table_stream

    stream = table_stream(spark, sf_dir, "documents")
    scanned = dictionary_scan(stream, "text", [t for t, _ in _TAG_DICT])
    agg = scanned.groupBy("term_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("occ").alias("total_occ"),
        F.max("occ").alias("max_occ"),
    )
    table = run_to_memory(agg, output_mode="complete")
    meta = spark.createDataFrame(
        [(i, t, c) for i, (t, c) in enumerate(_TAG_DICT)],
        "term_idx int, term string, category string",
    )
    return (
        F.broadcast(meta)
        .join(spark.table(table), "term_idx", "left")
        .select(
            "term",
            "category",
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("total_occ"), F.lit(0)).cast("bigint").alias(
                "total_occ"
            ),
            F.coalesce(F.col("max_occ"), F.lit(0)).cast("bigint").alias("max_occ"),
        )
        .orderBy("term")
    )
