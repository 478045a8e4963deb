"""Wave-26 operator (round 8, continued): streaming weighted reservoir
sampling -- the A-Res merge property turned into a custom stateful
streaming operator whose final state provably equals the batch query, so a
STREAMING query carries a full VALUE oracle.

Reference parity note: the reference (Processor.java, 172 lines) streams
DStream batches to a console sink; this is a charter extension composing
its micro-batch lifecycle (section 2.A A4) with the section-2.B sampling
family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register

_SRS_K = 10
_SRS_SALT = "srs1|"


def _reservoir_schemas():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("rank", LongType()),
            StructField("event_id", LongType()),
            StructField("weight", DoubleType()),
            StructField("key", DoubleType()),
            StructField("n_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("keys", ArrayType(DoubleType())),
            StructField("ids", ArrayType(LongType())),
            StructField("wts", ArrayType(DoubleType())),
            StructField("n_seen", LongType()),
        ]
    )
    return out_schema, state_schema


def _reservoir_update(k: int):
    """The A-Res reservoir state kernel: merge = top-k of the union, sorted
    by (key desc, event_id).  Keys arrive PRE-ROUNDED from JVM expressions;
    the kernel orders and truncates -- zero float arithmetic in Python, so
    the streaming trajectory cannot diverge from the batch oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        if state.exists:
            keys, ids, wts, n_seen = state.get
            pool = list(zip(keys, ids, wts))
        else:
            pool, n_seen = [], 0
        for pdf in pdfs:
            n_seen += len(pdf)
            pool.extend(
                zip(
                    pdf["k"].astype("float64"),
                    pdf["event_id"].astype("int64"),
                    pdf["wt"].astype("float64"),
                )
            )
        pool.sort(key=lambda t: (-t[0], t[1]))
        pool = pool[:k]
        state.update(
            (
                [float(k_) for k_, _, _ in pool],
                [int(i) for _, i, _ in pool],
                [float(w_) for _, _, w_ in pool],
                n_seen,
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(pool),
                "rank": list(range(1, len(pool) + 1)),
                "event_id": [int(i) for _, i, _ in pool],
                "weight": [float(w_) for _, _, w_ in pool],
                "key": [float(k_) for k_, _, _ in pool],
                "n_seen": [n_seen] * len(pool),
            }
        )

    return update


def _reservoir_keyed(df: DataFrame) -> DataFrame:
    """Project (event_type, event_id, wt, k) with the A-Res key as JVM
    expressions -- shared by the streaming query and the multi-batch test."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_SRS_SALT), F.col("event_id"))), 1, 8),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    return df.filter(F.col("value") > 0).select(
        "event_type",
        "event_id",
        F.col("value").alias("wt"),
        F.round(F.log(u) / F.col("value"), 9).alias("k"),
    )


@register(
    "q340_stream_weighted_reservoir",
    sql=f"""
    WITH w AS (
        SELECT event_type, event_id, value AS wt,
               (CAST(CAST('0x' || substr(md5('{_SRS_SALT}' || event_id), 1, 8)
                     AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        FROM events WHERE value > 0),
    keyed AS (
        SELECT event_type, event_id, wt, ROUND(ln(u) / wt, 9) AS k FROM w),
    ranked AS (
        SELECT event_type, event_id, wt, k,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY k DESC, event_id) AS rank
        FROM keyed)
    SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id,
           ROUND(wt, 6) AS weight, k AS key
    FROM ranked WHERE rank <= {_SRS_K}
    ORDER BY event_type, rank
    """,
    doc=f"STREAMING weighted reservoir (A-Res, k={_SRS_K} per event_type, "
    "weight = event value): the q330 sampler run as a custom stateful "
    "streaming operator (applyInPandasWithState).  Because reservoirs "
    "merge by 'top-k of the union' (commutative + associative), the "
    "final state is EXACTLY the batch A-Res result under ANY micro-batch "
    "split or arrival order -- which is why this streaming query carries "
    "a full batch VALUE oracle, not a rows-only check.  Engine-exactness "
    "by construction: the rank key ROUND(ln(u)/w, 9) is computed as JVM "
    "expressions BEFORE the stateful operator (the state kernel only "
    "sorts (key desc, event_id) and truncates -- zero float arithmetic "
    "in Python), with u the salted-md5 uniform (q304/q330 convention).  "
    "Plan/scale: per-key state is O(k); each micro-batch shuffles once "
    "on event_type; at 100 TB/day the same operator sustains "
    "arbitrarily many keys because state never exceeds k rows per key "
    "(q163's state-reader audits it).",
)
def q340_stream_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.pipeline import run_to_memory
    from ..streaming.source import events_stream

    out_schema, state_schema = _reservoir_schemas()
    stream = _reservoir_keyed(events_stream(spark, sf_dir))
    res = stream.groupBy("event_type").applyInPandasWithState(
        _reservoir_update(_SRS_K),
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    table = run_to_memory(res, output_mode="update")
    # update mode re-emits the running reservoir per micro-batch; keep each
    # key's FINAL emission (highest n_seen) -- the q271 reduction argument.
    final = (
        spark.table(table)
        .withColumn("mx", F.max("n_seen").over(Window.partitionBy("event_type")))
        .filter(F.col("n_seen") == F.col("mx"))
    )
    return final.select(
        "event_type",
        "rank",
        "event_id",
        F.round("weight", 6).alias("weight"),
        "key",
    ).orderBy("event_type", "rank")


# ---------------------------------------------------------------------------
# q341: quality-aware dedup -- keep the LONGEST member of each dup cluster
# ---------------------------------------------------------------------------


def _keep_longest_oracle() -> str:
    from .llm import _jaccard_oracle

    pairs = _jaccard_oracle(0.7, order_by=False).strip()
    return f"""
    WITH RECURSIVE
    prs AS MATERIALIZED (SELECT d1, d2 FROM ({pairs})),
    edges AS MATERIALIZED (
        SELECT d1 AS u, d2 AS v FROM prs UNION ALL SELECT d2, d1 FROM prs),
    cc(node, label) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.v, cc.label FROM cc JOIN edges e ON cc.node = e.u),
    lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY node),
    members AS (
        SELECT lab.cluster_id, lab.doc_id,
               len(string_split(d.text, ' ')) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
                                  ORDER BY len(string_split(d.text, ' ')) DESC,
                                           lab.doc_id) AS rn
        FROM lab JOIN documents d ON lab.doc_id = d.doc_id)
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_dropped
    FROM members
    GROUP BY cluster_id
    ORDER BY cluster_id
    """


@register(
    "q341_dedup_keep_longest",
    sql=_keep_longest_oracle(),
    doc="Quality-aware dedup policy: within each near-dup cluster "
    "(connected components over the Jaccard>=0.7 graph, q89's operator), "
    "keep the LONGEST member (token count, doc_id tie-break) instead of "
    "the lowest-id one -- the C4/RefinedWeb-style policy that preserves "
    "the most complete copy of a templated page family; the report gives "
    "per-cluster keeper, member count, and kept/dropped token mass (the "
    "numbers a curation run budgets against).  Token counts are exact "
    "ints, so the keeper choice is engine-exact with no rounding at all. "
    "Plan: CC over the bucketed LSH pair stream (q233's checkpointed "
    "label propagation), one broadcast-joinable (doc_id, n_tokens) "
    "projection attached to the graph-sized label frame, one "
    "cluster-partitioned window -- after the LSH stage everything is "
    "graph-sized.",
)
def q341_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count
    from ..operators.dedup import connected_components, minhash_lsh_pairs
    from ..sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "text", "doc_id", n=3, threshold=0.7)
    lab = connected_components(pairs)
    members = lab.join(d.select("doc_id", token_count("text").alias("n_tokens")), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_tokens").desc(), "doc_id")
    ranked = members.select(
        "cluster_id", "doc_id", "n_tokens", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.count("*").cast("bigint").alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("n_tokens")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.when(F.col("rn") > 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .orderBy("cluster_id")
    )
